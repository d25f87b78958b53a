"""Structured Streaming tests: file-source micro-batches through the
windowed/stateful operators into a memory sink, compared against the
batch twins (SURVEY.md §2.9)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lichess_db_spark.io import load_table
from lichess_db_spark.streaming.ingest import (
    hourly_tumbling,
    read_events_stream,
    running_features_stateful,
    running_features_tws,
)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def staged_events(spark):
    """Stage the events fixture as a 3-file parquet dir (3 micro-batches)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    # watermarks require TIMESTAMP (ltz): with a UTC session the values
    # are identical to the NTZ fixture column
    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(3).write.mode("overwrite").parquet(d)
    yield d, ev
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name.startswith("stateful") else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_hourly_matches_batch(spark, staged_events):
    d, ev = staged_events
    schema = ev.schema
    stream = read_events_stream(spark, d, schema)
    got = _run_stream(spark, hourly_tumbling(stream), "hourly").cache()
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "n", "value_sum")
    )
    assert got.count() == want.count()
    assert got.join(want, ["window_start", "n"]).count() == want.count()


def test_stateful_running_count_matches_window(spark, staged_events):
    d, ev = staged_events
    stream = read_events_stream(spark, d, ev.schema)
    got = _run_stream(spark, running_features_stateful(stream), "stateful").cache()
    # batch twin: W2 running count
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = ev.select(
        "user_id", "event_id", F.count("*").over(w).cast("int").alias("cum_events")
    )
    # per-micro-batch state accumulates in file order which may differ
    # from global ts order across batches; assert per-user totals match
    got_tot = got.groupBy("user_id").agg(F.max("cum_events").alias("n"))
    want_tot = want.groupBy("user_id").agg(F.max("cum_events").alias("n"))
    assert got_tot.join(want_tot, ["user_id", "n"]).count() == want_tot.count()


def test_stream_games_ingest_matches_batch_pipeline(spark, tmp_path):
    """E2E: staged PGN chunks -> streaming ingest -> partitioned games
    parquet. With AvailableNow over a pre-staged dir the result equals
    the batch pipeline exactly; a restart on the same checkpoint must
    be a no-op (exactly-once via offset tracking)."""
    import os
    import shutil

    from lichess_db_spark.plans.games import games_pipeline
    from lichess_db_spark.sources.pgn_datasource import register_pgn_source
    from lichess_db_spark.streaming.ingest import stream_games_ingest

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")
    stage = tmp_path / "stage"
    stage.mkdir()
    shutil.copy(fixture, stage / "chunk_00000.pgn")
    # second chunk gets distinct game ids (a duplicated ID would hand
    # each of its rows the greatest of the other role's features — in
    # batch mode too — so the copies would no longer be independent)
    text = open(fixture, encoding="utf-8").read()
    (stage / "chunk_00001.pgn").write_text(
        text.replace("lichess.org/", "lichess.org/x"), encoding="utf-8"
    )
    out = str(tmp_path / "games")
    ckpt = str(tmp_path / "ckpt")

    q = stream_games_ingest(spark, str(stage / "*.pgn"), out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    register_pgn_source(spark)
    want = games_pipeline(spark.read.format("pgn").load(str(stage / "*.pgn")))
    assert got.count() == want.count() == 24
    cols = [c for c in want.columns]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.collect())
    )
    # partitioned layout materialized
    assert any(p.startswith("year=") for p in os.listdir(out))
    # restart on the same checkpoint: offsets already consumed -> no-op
    q2 = stream_games_ingest(spark, str(stage / "*.pgn"), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 24


def _mk_game(gid, white, black, welo, belo, date, time, event="Rated Blitz game"):
    return (
        f'[Event "{event}"]\n'
        f'[Site "https://lichess.org/{gid}"]\n'
        f'[White "{white}"]\n'
        f'[Black "{black}"]\n'
        f'[Result "1-0"]\n'
        f'[UTCDate "{date}"]\n'
        f'[UTCTime "{time}"]\n'
        f'[WhiteElo "{welo}"]\n'
        f'[BlackElo "{belo}"]\n'
        f'[WhiteRatingDiff "+5"]\n'
        f'[BlackRatingDiff "-5"]\n'
        f'[ECO "B00"]\n'
        f'[Opening "Test Opening"]\n'
        f'[TimeControl "300+0"]\n'
        f'[Termination "Normal"]\n'
        "\n"
        "1. e4 e5 2. Nf3 Nc6 1-0\n"
        "\n"
    )


def test_stream_games_cross_batch_state(spark, tmp_path):
    """Cross-batch cumulative-state continuity (reference d_cum_games,
    ingester.py:62-85 restore / :269-278 persist): two months arriving
    as two micro-batches must equal the full-batch recompute — cum
    counts keep counting and Elo maxes keep flooring across the batch
    boundary, on both the Player_* and mirrored Opponent_* sides."""
    import os

    from lichess_db_spark.plans.games import games_pipeline
    from lichess_db_spark.sources.pgn_datasource import register_pgn_source
    from lichess_db_spark.streaming.ingest import stream_games_ingest

    jan = _mk_game("g1", "alice", "bob", 1500, 1480, "2024.01.05", "10:00:00") + _mk_game(
        "g2", "alice", "carol", 1510, 1490, "2024.01.20", "11:00:00"
    )
    feb = _mk_game("g3", "bob", "alice", 1485, 1520, "2024.02.03", "09:00:00") + _mk_game(
        "g4", "carol", "dave", 1495, 1400, "2024.02.10", "12:00:00"
    )
    stage = tmp_path / "stage"
    stage.mkdir()
    out = str(tmp_path / "games")
    ckpt = str(tmp_path / "ckpt")

    # month 1 arrives -> run 1 (batch 0); month 2 arrives -> run 2 on
    # the SAME checkpoint (batch 1) — exactly the reference's month
    # loop, with state restored across runs from the persisted table
    (stage / "chunk_00000.pgn").write_text(jan, encoding="utf-8")
    q = stream_games_ingest(spark, str(stage / "*.pgn"), out, ckpt)
    q.awaitTermination(120)
    (stage / "chunk_00001.pgn").write_text(feb, encoding="utf-8")
    q = stream_games_ingest(spark, str(stage / "*.pgn"), out, ckpt)
    q.awaitTermination(120)

    # two committed state versions exist (prune keeps read + new)
    versions = [
        p for p in os.listdir(os.path.join(out, "_feature_state"))
        if p.startswith("v")
    ]
    assert len(versions) >= 2, versions

    got = spark.read.parquet(out)
    register_pgn_source(spark)
    want = games_pipeline(spark.read.format("pgn").load(str(stage / "*.pgn")))
    cols = sorted(want.columns)
    assert got.count() == want.count() == 8
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    # spot-check the continuity itself: alice's February game (as Black
    # in g3) is her 3rd game overall — only true if state crossed the
    # batch boundary
    alice_feb = got.where((F.col("ID") == "g3") & (F.col("Player") == "alice")).first()
    assert alice_feb.Player_cum_games_total == 3
    assert alice_feb.PlayerElo_max == 1520


def _stream_matches_batch(spark, stage, got):
    from lichess_db_spark.plans.games import games_pipeline
    from lichess_db_spark.sources.pgn_datasource import register_pgn_source

    register_pgn_source(spark)
    want = games_pipeline(spark.read.format("pgn").load(str(stage / "*.pgn")))
    cols = sorted(want.columns)
    assert got.count() == want.count()
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_stream_games_unknown_event_continuity(spark, tmp_path):
    """A ``[Event "?"]`` game cleans to a NULL Event; the state must
    still carry that player's per-type count across months (the batch
    windows group NULL Events together), so three one-game months
    give Player_cum_games_type 1, 2, 3 as in the batch pipeline."""
    from lichess_db_spark.streaming.ingest import stream_games_ingest

    months = [
        _mk_game(f"q{i}", "erin", f"opp{i}", 1500 + i, 1400, f"2024.0{i}.05", "10:00:00",
                 event="?")
        for i in (1, 2, 3)
    ]
    stage = tmp_path / "stage"
    stage.mkdir()
    out = str(tmp_path / "games")
    ckpt = str(tmp_path / "ckpt")
    for i, text in enumerate(months):
        (stage / f"chunk_{i:05d}.pgn").write_text(text, encoding="utf-8")
        q = stream_games_ingest(spark, str(stage / "*.pgn"), out, ckpt)
        q.awaitTermination(120)

    got = spark.read.parquet(out)
    erin = got.where(F.col("Player") == "erin").orderBy("DateTime").collect()
    assert [r.Event for r in erin] == [None] * 3
    assert [r.Player_cum_games_type for r in erin] == [1, 2, 3]
    assert [r.PlayerElo_max for r in erin] == [1501, 1502, 1503]
    _stream_matches_batch(spark, stage, got)


def test_stream_games_max_files_per_trigger(spark, tmp_path):
    """max_files_per_trigger=1 over two staged months in ONE
    availableNow run: the file source splits the backlog into one
    micro-batch per chunk (in modification-time order), so state
    crosses a batch boundary inside the run; the output equals the
    batch pipeline over both months."""
    import os

    from lichess_db_spark.streaming.ingest import stream_games_ingest

    jan = _mk_game("m1", "alice", "bob", 1500, 1480, "2024.01.05", "10:00:00") + _mk_game(
        "m2", "alice", "carol", 1510, 1490, "2024.01.20", "11:00:00"
    )
    feb = _mk_game("m3", "bob", "alice", 1485, 1520, "2024.02.03", "09:00:00") + _mk_game(
        "m4", "carol", "dave", 1495, 1400, "2024.02.10", "12:00:00"
    )
    stage = tmp_path / "stage"
    stage.mkdir()
    for i, text in enumerate((jan, feb)):
        dst = stage / f"chunk_{i:05d}.pgn"
        dst.write_text(text, encoding="utf-8")
        os.utime(str(dst), (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    out = str(tmp_path / "games")
    q = stream_games_ingest(
        spark, str(stage / "*.pgn"), out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(120)

    versions = [
        p for p in os.listdir(os.path.join(out, "_feature_state")) if p.startswith("v")
    ]
    assert len(versions) >= 2, versions
    got = spark.read.parquet(out)
    alice_feb = got.where((F.col("ID") == "m3") & (F.col("Player") == "alice")).first()
    assert alice_feb.Player_cum_games_total == 3
    _stream_matches_batch(spark, stage, got)


def test_tws_running_count_and_max_matches_batch(spark, staged_events):
    """transformWithStateInPandas (state v2) twin: per-user final
    (count, running max) equals the batch groupBy aggregate.

    Skips where google.protobuf is absent (this container): the
    state-v2 wire protocol is protobuf-serialized, see
    running_features_tws's docstring. The state-v1 twin above covers
    the semantics unconditionally."""
    pytest.importorskip("google.protobuf")
    d, ev = staged_events
    # state v2 supports only the RocksDB provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = read_events_stream(spark, d, ev.schema)
    got = _run_stream(spark, running_features_tws(stream), "stateful_tws").cache()
    got_tot = got.groupBy("user_id").agg(
        F.max("cum_events").alias("n"), F.max("value_max").alias("vmax")
    )
    want_tot = ev.groupBy("user_id").agg(
        F.count("*").cast("int").alias("n"), F.max("value").alias("vmax")
    )
    assert got.count() == ev.count()
    assert (
        got_tot.join(want_tot, ["user_id", "n", "vmax"]).count() == want_tot.count()
    )


def test_stream_dedup_within_watermark(spark, staged_events):
    """A doubled stream (every event staged twice) dedups back to the
    original set; first arrivals survive, later copies drop; state is
    watermark-bounded (the operator, not the test, guarantees that —
    here we assert semantics)."""
    from lichess_db_spark.streaming.ingest import stream_dedup

    d, ev = staged_events
    dup_dir = tempfile.mkdtemp(prefix="events_dup_")
    try:
        doubled = ev.unionAll(ev)
        doubled.repartition(4).write.mode("overwrite").parquet(dup_dir)
        stream = read_events_stream(spark, dup_dir, ev.schema)
        deduped = stream_dedup(stream, ["event_id"], ts_col="ts")
        q = (
            deduped.writeStream.format("memory")
            .queryName("stateful_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("stateful_dedup")
        assert got.count() == ev.count()
        assert got.select("event_id").distinct().count() == ev.count()
    finally:
        shutil.rmtree(dup_dir, ignore_errors=True)


def test_stream_documents_curation_matches_batch(spark, tmp_path):
    """Two micro-batches with cross-batch duplicate texts: the
    streaming curation sink keeps exactly one copy per distinct
    content digest that passes the quality gate (order-invariant
    assertion: digest sets, not ids), and the digest state table holds
    each digest once."""
    from lichess_db_spark.operators.curation import (
        curation_projection,
        quality_verdict,
    )
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 250)
    dupes = b1.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    b2 = docs.where(F.col("doc_id") >= 250).unionByName(dupes)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "out"
    q = stream_documents_curation(
        spark, str(src), str(out), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    digest = F.md5(F.lower(F.trim(F.col("text"))))
    got = spark.read.parquet(str(out / "docs"))
    # batch twin: distinct digests whose text passes the quality gate
    all_docs = b1.unionByName(b2)
    want_digests = {
        r.d
        for r in curation_projection(all_docs)
        .where(quality_verdict() == "keep")
        .select(digest.alias("d"))
        .distinct()
        .collect()
    }
    got_digests = [r.d for r in got.select(digest.alias("d")).collect()]
    assert len(got_digests) == len(set(got_digests))  # one copy per digest
    assert set(got_digests) == want_digests
    # state table: every distinct incoming digest exactly once
    state = spark.read.parquet(str(out / "_digest_state"))
    n_distinct = all_docs.select(digest.alias("d")).distinct().count()
    assert state.count() == n_distinct
    assert state.distinct().count() == n_distinct


def test_stream_embeddings_curation(spark, tmp_path):
    """Embedding twin of the streaming curation sink: a batch-2 vector
    that is a verified cosine near-dup of a kept batch-1 vector is
    dropped (small perturbation -> digest differs, cosine ~1); exact
    duplicates die in the digest tier; rerun with per-batch archive
    compaction is identical (compaction transparency)."""
    import glob as _glob

    from pyspark.sql.types import ArrayType, FloatType

    from lichess_db_spark.streaming.ingest import stream_embeddings_curation

    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    # near-dups of batch-1 vectors: first coordinate nudged -> new
    # digest, cosine ~0.9999
    near = b1.limit(10).select(
        (F.col("vec_id") + 700000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.001)).cast("float")),
            F.slice("embedding", 2, 63),
        ).cast(ArrayType(FloatType())).alias("embedding"),
        "label",
    )
    # exact duplicates of batch-1 vectors -> digest tier
    exact = b1.limit(5).select(
        (F.col("vec_id") + 800000).alias("vec_id"), "embedding", "label"
    )
    b2 = (
        emb.where(F.col("vec_id") % 2 == 1)
        .unionByName(near)
        .unionByName(exact)
    )
    src = tmp_path / "esrc"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "eout"
    q = stream_embeddings_curation(
        spark,
        str(src),
        str(out),
        str(tmp_path / "eckpt"),
        threshold=0.9,
        target_corpus=600,
    )
    q.awaitTermination(240)

    kept = spark.read.parquet(str(out / "vecs"))
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    injected_near = {r.vec_id for r in near.select("vec_id").collect()}
    injected_exact = {r.vec_id for r in exact.select("vec_id").collect()}
    # their batch-1 originals were kept (arrived first), so every
    # injected copy must be gone — near via verified cosine, exact via
    # the digest tier
    assert not (kept_ids & injected_near)
    assert not (kept_ids & injected_exact)
    # originals survive
    originals = {r.vec_id for r in b1.limit(10).select("vec_id").collect()}
    assert originals <= kept_ids

    # determinism + compaction transparency
    out2 = tmp_path / "eout2"
    q2 = stream_embeddings_curation(
        spark,
        str(src),
        str(out2),
        str(tmp_path / "eckpt2"),
        threshold=0.9,
        target_corpus=600,
        compact_every=1,
    )
    q2.awaitTermination(240)
    kept2 = {r.vec_id for r in spark.read.parquet(str(out2 / "vecs")).collect()}
    assert kept2 == kept_ids
    post_dirs = _glob.glob(str(out2 / "_lsh_postings" / "batch=*"))
    assert post_dirs and all(d.endswith("batch=-1") for d in post_dirs), post_dirs


def test_stream_curation_replay_is_idempotent(spark, tmp_path):
    """ADVICE r4: a crash-replay used to re-append the batch's corpus
    rows. Every per-batch write is now a batch_id-scoped overwrite, so
    the harshest replay — wiping the checkpoint and re-running every
    batch against the existing output — must leave the corpus (and the
    digest state) byte-count-identical, with zero duplicate digests."""
    import shutil as _shutil

    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 250)
    b2 = docs.where(F.col("doc_id") >= 250)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    q = stream_documents_curation(spark, str(src), str(out), str(ckpt))
    q.awaitTermination(180)

    ids_before = sorted(
        r.doc_id for r in spark.read.parquet(str(out / "docs")).collect()
    )
    state_before = spark.read.parquet(str(out / "_digest_state")).count()

    # simulate total checkpoint loss: every batch replays over the
    # existing output directories
    _shutil.rmtree(str(ckpt))
    q2 = stream_documents_curation(spark, str(src), str(out), str(ckpt))
    q2.awaitTermination(180)

    ids_after = sorted(
        r.doc_id for r in spark.read.parquet(str(out / "docs")).collect()
    )
    assert ids_after == ids_before  # no re-appended duplicates
    state = spark.read.parquet(str(out / "_digest_state"))
    assert state.count() == state_before
    assert state.select("__digest").distinct().count() == state_before


def test_stream_curation_near_dup_tier(spark, tmp_path):
    """Three-tier streaming curation: a batch-2 doc that is a near-dup
    (LSH candidate) of a batch-1 doc is dropped even though its text
    is not an exact copy; non-neighbored docs survive; and the whole
    run is deterministic."""
    from lichess_db_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 250)
    # batch-2 near-dups: batch-1 texts with one word appended — not
    # exact copies (digest differs) but LSH candidates of the original
    near = b1.limit(15).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    b2 = docs.where(F.col("doc_id") >= 250).unionByName(near)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "out"
    q = stream_documents_curation(
        spark, str(src), str(out), str(tmp_path / "ckpt"), near_dup=True
    )
    q.awaitTermination(240)

    got_ids = {r.doc_id for r in spark.read.parquet(str(out / "docs")).collect()}
    # every injected near-dup whose original is an LSH candidate must
    # be gone (its original arrived in batch 1)
    all_docs = b1.unionByName(b2)
    sigs = minhash_signatures(all_docs)
    cand = minhash_lsh_candidates(sigs, max_bucket_size=None)
    injected = {r.doc_id for r in near.select("doc_id").collect()}
    neighbored_injected = {
        r.doc_b
        for r in cand.where(
            (F.col("doc_b") >= 200000) & (F.col("doc_a") < 250)
        ).collect()
    }
    assert neighbored_injected, "fixture produced no cross-batch candidates"
    assert not (neighbored_injected & got_ids)
    # the invariant the drop rule guarantees: NO two kept docs are LSH
    # candidates of each other (intra-batch pairs drop the greater id,
    # cross-batch pairs drop the later arrival)
    kept_pairs = cand.where(
        F.col("doc_a").isin(*got_ids) & F.col("doc_b").isin(*got_ids)
    ).collect()
    assert kept_pairs == [], kept_pairs
    # determinism AND compaction-transparency: rerun into a fresh dir
    # with the posting archive compacted after every batch — identical
    # id set (compaction must never change candidate semantics), and
    # the archive ends as one merged batch=-1 file set instead of one
    # directory per batch
    import glob as _glob

    out2 = tmp_path / "out2"
    q2 = stream_documents_curation(
        spark,
        str(src),
        str(out2),
        str(tmp_path / "ckpt2"),
        near_dup=True,
        compact_every=1,
    )
    q2.awaitTermination(240)
    got2 = {r.doc_id for r in spark.read.parquet(str(out2 / "docs")).collect()}
    assert got2 == got_ids
    post_dirs = _glob.glob(str(out2 / "_lsh_postings" / "batch=*"))
    assert post_dirs and all(d.endswith("batch=-1") for d in post_dirs), post_dirs


def test_stream_curation_partitioned_digest_state(spark, tmp_path):
    """partition_state=True: same kept corpus as the batch twin, state
    laid out as batch=<id>/p=<prefix>/ hive partitions, and a prefix
    filter prunes the state scan at file-listing time (the
    trickle-batch regime: a small batch's anti-join reads only the
    state partitions its own digest prefixes touch)."""
    from lichess_db_spark.operators.curation import (
        curation_projection,
        quality_verdict,
    )
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 250)
    dupes = b1.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    b2 = docs.where(F.col("doc_id") >= 250).unionByName(dupes)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "out"
    q = stream_documents_curation(
        spark,
        str(src),
        str(out),
        str(tmp_path / "ckpt"),
        partition_state=True,
    )
    q.awaitTermination(180)
    assert q.exception() is None

    digest = F.md5(F.lower(F.trim(F.col("text"))))
    got = spark.read.parquet(str(out / "docs"))
    all_docs = b1.unionByName(b2)
    want_digests = {
        r.d
        for r in curation_projection(all_docs)
        .where(quality_verdict() == "keep")
        .select(digest.alias("d"))
        .distinct()
        .collect()
    }
    got_digests = [r.d for r in got.select(digest.alias("d")).collect()]
    assert len(got_digests) == len(set(got_digests))
    assert set(got_digests) == want_digests

    # layout: hive p= partitions under each batch dir
    state_dir = out / "_digest_state"
    assert any((state_dir / "batch=0").glob("p=*"))
    state = spark.read.parquet(str(state_dir))
    assert "p" in state.columns
    n_distinct = all_docs.select(digest.alias("d")).distinct().count()
    assert state.count() == n_distinct

    # pruning: the prefix literal filter must reach the scan as a
    # PartitionFilter (inputFiles() ignores pushdown, so inspect the
    # physical plan) and actually shrink the partition count
    some_prefix = state.select("p").first()[0]
    pruned = spark.read.parquet(str(state_dir)).where(F.col("p") == some_prefix)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "(p#" in plan or "p#" in plan.split("PartitionFilters", 1)[1][:200]
    n_pruned = pruned.count()
    assert 0 < n_pruned < n_distinct

    # state round-trips through the anti-join shape the sink uses
    assert state.where(F.col("p").isin(["00", "ff"])).count() <= n_distinct


def test_stream_curation_state_layout_guard(spark, tmp_path):
    """Mixing flat and prefix-partitioned digest state in one dir must
    fail loudly, not silently un-prune: a flat-layout state read with
    partition_state=True raises inside the batch and the streaming
    query surfaces the error."""
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 100)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "out"
    q = stream_documents_curation(spark, str(src), str(out), str(tmp_path / "c1"))
    q.awaitTermination(120)
    assert q.exception() is None

    # second arrival, now (wrongly) with partition_state=True against
    # the existing flat layout
    docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    q2 = stream_documents_curation(
        spark,
        str(src),
        str(out),
        str(tmp_path / "c2"),
        partition_state=True,
    )
    try:
        q2.awaitTermination(120)
    except Exception:
        pass  # some Spark versions raise here, others surface via exception()
    assert q2.exception() is not None
    assert "flat layout" in str(q2.exception())


def test_stream_agg_maintenance_matches_batch(spark, tmp_path):
    """Two arrival runs of orders batches maintain the per-priority
    aggregate state; the final served MV equals the one-shot batch
    aggregate over everything (streaming twin of
    incremental_agg_orders' oracle proof)."""
    from lichess_db_spark.operators.incremental import StateCol
    from lichess_db_spark.streaming.ingest import (
        latest_agg_state,
        stream_agg_maintenance,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = [
        StateCol("n_orders", "sum"),
        StateCol("total", "sum"),
        StateCol("last_date", "max"),
    ]

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("total"),
            F.max("o_orderdate").alias("last_date"),
        )

    def run_once():
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_agg_maintenance(
            spark, stream, state, ckpt, ["o_orderpriority"], cols, partial
        )
        q.awaitTermination(120)

    # arrival 1: first half; arrival 2: second half (month-at-a-time
    # pattern — each run is its own batch id in the same checkpoint)
    first = orders.where(F.col("o_orderkey") % 2 == 0)
    second = orders.where(F.col("o_orderkey") % 2 == 1)
    first.write.mode("append").parquet(src)
    run_once()
    mid = {r["o_orderpriority"]: r["n_orders"] for r in latest_agg_state(spark, state).collect()}
    second.write.mode("append").parquet(src)
    run_once()

    got = sorted(tuple(r) for r in latest_agg_state(spark, state).collect())
    want = sorted(tuple(r) for r in partial(orders).collect())
    assert got == want
    # and the first run's state really was partial (cross-run merge happened)
    full = {r["o_orderpriority"]: r["n_orders"] for r in partial(orders).collect()}
    assert any(mid[k] < full[k] for k in full)


def test_stream_agg_maintenance_ignores_uncommitted_state(spark, tmp_path):
    """A crashed batch's partial state version (no _SUCCESS) is never
    served or merged against — the strictly-below committed-version
    rule from stream_games_ingest applies here too."""
    import os

    from lichess_db_spark.streaming.ingest import latest_agg_state

    state = str(tmp_path / "state")
    good = spark.createDataFrame([("A", 1)], "k string, n bigint")
    good.write.mode("overwrite").parquet(f"{state}/v0")
    bad = spark.createDataFrame([("A", 999)], "k string, n bigint")
    bad.write.mode("overwrite").parquet(f"{state}/v1")
    os.remove(f"{state}/v1/_SUCCESS")

    got = latest_agg_state(spark, state).collect()
    assert [(r["k"], r["n"]) for r in got] == [("A", 1)]


def test_stream_agg_maintenance_hll_distinct(spark, tmp_path):
    """Composition: streaming MV maintenance carrying an HLL-sketch
    state column — the distinct-customer count served after two
    arrivals exactly equals the one-shot sketch estimate."""
    from lichess_db_spark.operators.incremental import StateCol
    from lichess_db_spark.streaming.ingest import (
        latest_agg_state,
        stream_agg_maintenance,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = [StateCol("n", "sum"), StateCol("cust_sketch", "hll")]

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.hll_sketch_agg("o_custkey").alias("cust_sketch"),
        )

    def run_once():
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_agg_maintenance(
            spark, stream, state, ckpt, ["o_orderpriority"], cols, partial
        )
        q.awaitTermination(120)

    orders.where(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(src)
    run_once()
    orders.where(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(src)
    run_once()

    served = {
        r["o_orderpriority"]: (r["n"], r["est"])
        for r in latest_agg_state(spark, state)
        .select(
            "o_orderpriority", "n",
            F.hll_sketch_estimate("cust_sketch").alias("est"),
        )
        .collect()
    }
    want = {
        r["o_orderpriority"]: (r["n"], r["est"])
        for r in partial(orders)
        .select(
            "o_orderpriority", "n",
            F.hll_sketch_estimate("cust_sketch").alias("est"),
        )
        .collect()
    }
    assert served == want


def test_stream_curation_state_compaction(spark, tmp_path):
    """state_compact_every: the digest state compacts to one batch=-1
    file set, cross-batch dedup keeps working THROUGH the compaction
    boundary (a later exact copy of a pre-compaction doc is still
    dropped), and the corpus equals the uncompacted run's."""
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 200)
    b2 = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
    # batch 3 re-sends 15 of batch 1's texts under new ids — these
    # arrive AFTER the state was compacted (compact_every=2)
    dupes = b1.limit(15).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    b3 = docs.where(F.col("doc_id") >= 400).unionByName(dupes)
    batches = [b1, b2, b3]

    outs = {}
    for mode, every in (("compacted", 2), ("plain", None)):
        src = tmp_path / f"src_{mode}"
        out = tmp_path / f"out_{mode}"
        # one availableNow run per batch so each gets its own batch_id
        # (a single run would fold all staged files into batch 0)
        for b in batches:
            b.coalesce(1).write.mode("append").parquet(str(src))
            q = stream_documents_curation(
                spark, str(src), str(out), str(tmp_path / f"ckpt_{mode}"),
                state_compact_every=every,
            )
            q.awaitTermination(240)
            assert q.exception() is None
        digest = F.md5(F.lower(F.trim(F.col("text"))))
        outs[mode] = sorted(
            r.d
            for r in spark.read.parquet(str(out / "docs"))
            .select(digest.alias("d"))
            .collect()
        )
    assert outs["compacted"] == outs["plain"]
    assert len(outs["compacted"]) == len(set(outs["compacted"]))
    # layout: after compact-at-batch-2, state holds batch=-1 plus only
    # batch dirs written after the compaction
    state_dir = tmp_path / "out_compacted" / "_digest_state"
    names = sorted(p.name for p in state_dir.glob("batch=*"))
    assert "batch=-1" in names and "batch=0" not in names
    # compacted state holds each digest once
    state = spark.read.parquet(str(state_dir))
    assert state.count() == state.select("__digest").distinct().count()


def test_stream_curation_state_compaction_partitioned(spark, tmp_path):
    """Prefix-partitioned state keeps its p= layout (and therefore its
    file-listing pruning) through compaction."""
    from lichess_db_spark.streaming.ingest import (
        compact_digest_state,
        stream_documents_curation,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    src = tmp_path / "src"
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(str(src))
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(str(src))
    out = tmp_path / "out"
    q = stream_documents_curation(
        spark, str(src), str(out), str(tmp_path / "ckpt"),
        partition_state=True,
    )
    q.awaitTermination(240)
    assert q.exception() is None

    state_dir = out / "_digest_state"
    # materialize the pre-compaction view: the compaction swap replaces
    # the files, so a lazily-listed DataFrame would read stale paths
    before = sorted(
        r.d
        for r in spark.read.parquet(str(state_dir))
        .select(F.col("__digest").alias("d"))
        .collect()
    )
    n_before = len(before)
    res = compact_digest_state(spark, str(state_dir))
    assert res["rows"] == n_before
    # layout preserved: batch=-1/p=<xx>/ and the p column still reads
    assert any((state_dir / "batch=-1").glob("p=*"))
    after = spark.read.parquet(str(state_dir))
    assert "p" in after.columns
    assert after.count() == n_before
    assert before == sorted(
        r.d for r in after.select(F.col("__digest").alias("d")).collect()
    )
    # pruning still applies post-compaction
    some_prefix = after.select("p").first()[0]
    plan = (
        spark.read.parquet(str(state_dir))
        .where(F.col("p") == some_prefix)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_stream_curation_compaction_crash_replay(spark, tmp_path):
    """ADVICE r6 (high): a crash BETWEEN state compaction and the
    checkpoint commit replays the micro-batch with the same batch_id.
    The replay excludes its own prior digests with `batch != batch_id`
    — so compaction must NOT fold the in-flight batch's digests into
    batch=-1, or they become self-visible and the replay anti-joins
    every doc away, overwriting docs/batch=<id> EMPTY. Simulated end
    to end: run one batch with state_compact_every=1 (compaction fires
    after it), delete the checkpoint commit marker (the crash window),
    restart, and assert the replayed batch's docs survive intact."""
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") < 200)
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    docs.coalesce(1).write.mode("append").parquet(str(src))
    q = stream_documents_curation(
        spark, str(src), str(out), str(ckpt), state_compact_every=1
    )
    q.awaitTermination(240)
    assert q.exception() is None
    kept_before = sorted(
        r.doc_id
        for r in spark.read.parquet(str(out / "docs")).select("doc_id").collect()
    )
    assert kept_before, "first run produced no docs"
    # compaction ran after batch 0, but the batch's own digests must
    # still live under their batch=0 dir (excluded from batch=-1)
    names = sorted(p.name for p in (out / "_digest_state").glob("batch=*"))
    assert "batch=-1" in names and "batch=0" in names
    # crash window: offsets/0 exists, commits/0 does not -> replay
    # (drop the local ChecksumFs .crc sidecar too, or the replay's
    # commit rename trips over it — test-env artifact, not product)
    (ckpt / "commits" / "0").unlink()
    (ckpt / "commits" / ".0.crc").unlink(missing_ok=True)
    q = stream_documents_curation(
        spark, str(src), str(out), str(ckpt), state_compact_every=1
    )
    q.awaitTermination(240)
    assert q.exception() is None
    kept_after = sorted(
        r.doc_id
        for r in spark.read.parquet(str(out / "docs")).select("doc_id").collect()
    )
    assert kept_after == kept_before


def test_compact_digest_state_interrupted_swap_heals(spark, tmp_path):
    """The swap's crash window (state renamed aside, compacted set not
    yet in place) is healed by the next reader/compaction touch instead
    of reading as an empty first-batch state."""
    import shutil

    from lichess_db_spark.streaming.ingest import compact_digest_state

    state_dir = tmp_path / "_digest_state"
    spark.createDataFrame(
        [(f"d{i:04d}",) for i in range(50)], "__digest string"
    ).write.mode("overwrite").parquet(str(state_dir / "batch=0"))
    n = spark.read.parquet(str(state_dir)).count()
    # simulate the crash window: live dir moved aside, nothing in place
    shutil.move(str(state_dir), str(tmp_path / "_digest_state__old"))
    res = compact_digest_state(spark, str(state_dir))
    assert res["rows"] == n
    assert spark.read.parquet(str(state_dir)).count() == n


def test_compact_before_read_reader_cadence(spark, tmp_path):
    """VERDICT r7 #7: the reader-cadence hook no-ops below
    min_batch_dirs (a rewrite would cost more than the listing it
    saves), compacts at the threshold, preserves the digest SET
    exactly, and a threshold-sized re-accumulation triggers again
    while batch=-1 is excluded from the count."""
    from lichess_db_spark.streaming.ingest import compact_before_read

    state_dir = tmp_path / "_digest_state"
    for b in range(3):
        spark.createDataFrame(
            [(f"d{b}-{i:03d}",) for i in range(20)], "__digest string"
        ).write.mode("overwrite").parquet(str(state_dir / f"batch={b}"))
    want = sorted(
        r["__digest"] for r in spark.read.parquet(str(state_dir)).collect()
    )

    res = compact_before_read(spark, str(state_dir), min_batch_dirs=4)
    assert res == {"compacted": False, "batch_dirs": 3}

    res = compact_before_read(spark, str(state_dir), min_batch_dirs=3)
    assert res["compacted"] is True and res["batch_dirs"] == 3
    assert res["rows"] == 60
    got = sorted(
        r["__digest"] for r in spark.read.parquet(str(state_dir)).collect()
    )
    assert got == want

    # batch=-1 does not count toward the threshold; fresh batch dirs do
    res = compact_before_read(spark, str(state_dir), min_batch_dirs=1)
    assert res == {"compacted": False, "batch_dirs": 0}
    spark.createDataFrame([("x",)], "__digest string").write.mode(
        "overwrite"
    ).parquet(str(state_dir / "batch=7"))
    res = compact_before_read(spark, str(state_dir), min_batch_dirs=1)
    assert res["compacted"] is True and res["rows"] == 61

    # missing state: clean no-op
    assert compact_before_read(spark, str(tmp_path / "nope")) == {
        "compacted": False,
        "batch_dirs": 0,
    }

    # a crashed compaction's swap window (state renamed aside) is
    # healed BEFORE the threshold check — the reader must never see
    # "no state" through the window
    import shutil

    shutil.move(str(state_dir), str(tmp_path / "_digest_state__old"))
    res = compact_before_read(spark, str(state_dir), min_batch_dirs=99)
    assert res["compacted"] is False
    assert spark.read.parquet(str(state_dir)).count() == 61


def test_compact_before_read_composes_with_curation_stream(spark, tmp_path):
    """End-to-end reader cadence: run the curation stream twice (two
    batch dirs of state), invoke the hook as a downstream reader
    would, then run a THIRD batch re-sending earlier texts — dedup
    still drops them through the compacted state, and the corpus
    equals a never-compacted run's."""
    from lichess_db_spark.streaming.ingest import (
        compact_before_read,
        stream_documents_curation,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 150)
    b2 = docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    dupes = b1.limit(10).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    b3 = docs.where(F.col("doc_id") >= 300).unionByName(dupes)

    outs = {}
    for mode in ("hooked", "plain"):
        src = tmp_path / f"src_{mode}"
        out = tmp_path / f"out_{mode}"
        for i, b in enumerate([b1, b2, b3]):
            if mode == "hooked" and i == 2:
                # downstream reader arrives between batches 2 and 3
                res = compact_before_read(
                    spark, str(out / "_digest_state"), min_batch_dirs=2
                )
                assert res["compacted"] is True and res["batch_dirs"] == 2
            b.coalesce(1).write.mode("append").parquet(str(src))
            q = stream_documents_curation(
                spark, str(src), str(out), str(tmp_path / f"ckpt_{mode}")
            )
            q.awaitTermination(240)
            assert q.exception() is None
        digest = F.md5(F.lower(F.trim(F.col("text"))))
        outs[mode] = sorted(
            r.d
            for r in spark.read.parquet(str(out / "docs"))
            .select(digest.alias("d"))
            .collect()
        )
    assert outs["hooked"] == outs["plain"]


def test_stream_agg_maintenance_topk_state(spark, tmp_path):
    """Composition: streaming MV maintenance carrying a topk:5 state
    column — the per-priority top-5 prices served after two arrivals
    exactly equal the one-shot top-5 (the leaderboard stays exact
    under incremental maintenance)."""
    from lichess_db_spark.operators.incremental import StateCol
    from lichess_db_spark.streaming.ingest import (
        latest_agg_state,
        stream_agg_maintenance,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = [StateCol("n", "sum"), StateCol("top", "topk:5")]

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.slice(
                F.reverse(F.array_sort(F.collect_list("o_totalprice"))), 1, 5
            ).alias("top"),
        )

    def run_once():
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_agg_maintenance(
            spark, stream, state, ckpt, ["o_orderpriority"], cols, partial
        )
        q.awaitTermination(120)

    orders.where(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(src)
    run_once()
    orders.where(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(src)
    run_once()

    served = {
        r["o_orderpriority"]: (r["n"], r["top"])
        for r in latest_agg_state(spark, state).collect()
    }
    want = {
        r["o_orderpriority"]: (r["n"], r["top"])
        for r in partial(orders).collect()
    }
    assert served == want


def test_stream_stream_interval_join_matches_batch(spark, staged_events):
    """Watermarked stream-stream interval join == the same join on the
    static frames: every (view, click-within-10min) pair for a user is
    emitted exactly once with availableNow over 3 micro-batches, and
    the time bound + watermarks keep per-side state finite."""
    from lichess_db_spark.streaming.ingest import stream_stream_interval_join

    d, ev = staged_events
    schema = ev.schema
    stream = read_events_stream(spark, d, schema)
    sv = stream.where(F.col("event_type") == "view")
    sc = stream.where(F.col("event_type") == "click")
    joined = stream_stream_interval_join(sv, sc, watermark="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("ssj").collect())

    bv = ev.where(F.col("event_type") == "view")
    bc = ev.where(F.col("event_type") == "click")
    want = sorted(
        tuple(r)
        for r in stream_stream_interval_join(bv, bc, watermark="1 hour").collect()
    )
    assert len(want) > 0  # fixture must actually exercise the join
    assert got == want


def test_stream_stream_interval_join_left_outer_matches_batch(spark, staged_events):
    """left_outer: unmatched views surface with NULL click columns once
    the click watermark passes view_ts + within; with availableNow over
    the whole fixture the emitted set equals the static left join —
    matched pairs identical to the inner mode PLUS one NULL-click row
    per never-converted view."""
    from lichess_db_spark.streaming.ingest import stream_stream_interval_join

    d, ev = staged_events
    schema = ev.schema
    stream = read_events_stream(spark, d, schema)
    sv = stream.where(F.col("event_type") == "view")
    sc = stream.where(F.col("event_type") == "click")
    joined = stream_stream_interval_join(sv, sc, watermark="1 hour", how="left_outer")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_lo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("ssj_lo").collect())

    bv = ev.where(F.col("event_type") == "view")
    bc = ev.where(F.col("event_type") == "click")
    batch_outer = stream_stream_interval_join(
        bv, bc, watermark="1 hour", how="left_outer"
    ).collect()
    inner = sorted(
        tuple(r)
        for r in stream_stream_interval_join(bv, bc, watermark="1 hour").collect()
    )
    n_views = bv.count()
    matched_views = {r[1] for r in inner}
    # batch structural sanity: outer = inner + one NULL row per
    # never-converted view, and the fixture exercises both classes
    assert len(batch_outer) == len(inner) + (n_views - len(matched_views))
    assert 0 < len(matched_views) < n_views

    # streaming semantics: matched pairs are emitted eagerly and
    # exactly; an UNMATCHED view is emitted only once the final global
    # watermark (min over both inputs of max event time, minus the
    # 1-hour delay) passes view_ts + within — views still inside that
    # horizon at end-of-stream are correctly withheld, because a
    # matching click could in principle still arrive.
    got_matched = sorted(t for t in got if t[3] is not None)
    assert got_matched == inner
    got_null = {t[1] for t in got if t[3] is None}
    want_null = {r[1] for r in batch_outer if r[3] is None}
    assert got_null <= want_null
    import datetime as _dt

    wm = min(
        bv.agg(F.max("ts")).first()[0], bc.agg(F.max("ts")).first()[0]
    ) - _dt.timedelta(hours=1)
    must_emit = {
        r["view_id"]
        for r in stream_stream_interval_join(
            bv, bc, watermark="1 hour", how="left_outer"
        ).collect()
        if r["click_id"] is None
        and r["view_ts"] + _dt.timedelta(minutes=10) < wm
    }
    assert must_emit <= got_null
    assert must_emit  # the horizon split actually exercises emission


def test_stream_stream_interval_join_rejects_malformed_within(spark, staged_events):
    """ADVICE r7: a malformed `within` raises a clear ValueError at
    plan-build time instead of interpolating into F.expr (where
    '10min' surfaces as an opaque Catalyst parse error and an injected
    expression could silently change the join bound)."""
    import pytest as _pytest

    from lichess_db_spark.streaming.ingest import stream_stream_interval_join

    _, ev = staged_events
    bv = ev.where(F.col("event_type") == "view")
    bc = ev.where(F.col("event_type") == "click")
    for bad in ("10min", "10", "minutes", "10 fortnights", "1 minute OR 1=1"):
        with _pytest.raises(ValueError, match="within must be"):
            stream_stream_interval_join(bv, bc, within=bad)
    # singular/plural + case accepted
    assert stream_stream_interval_join(bv, bc, within="1 Minute").columns == [
        "user_id", "view_id", "view_ts", "click_id", "click_ts",
    ]


def test_stream_agg_maintenance_hist_state(spark, tmp_path):
    """Composition: streaming MV maintenance carrying a hist:16 state
    column — the per-priority price histogram served after two
    arrivals exactly equals the one-shot histogram (the distribution
    dashboard stays exact under incremental maintenance), and a
    quantile read off the served state matches the one-shot read."""
    from lichess_db_spark.operators.incremental import (
        StateCol,
        bins_to_array,
        hist_quantile,
    )
    from lichess_db_spark.streaming.ingest import (
        latest_agg_state,
        stream_agg_maintenance,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = [StateCol("n", "sum"), StateCol("h", "hist:16")]
    bin_expr = (
        F.least(
            F.lit(15), F.greatest(F.lit(0), F.floor(F.col("o_totalprice") / 31250.0))
        )
        .cast("int")
        .alias("__bin")
    )

    def partial(df):
        counts = df.select("o_orderpriority", bin_expr).groupBy(
            "o_orderpriority", "__bin"
        ).agg(F.count("*").cast("bigint").alias("__c"))
        return counts.groupBy("o_orderpriority").agg(
            F.sum("__c").alias("n"), bins_to_array(16, "__bin", "__c").alias("h")
        )

    def run_once():
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_agg_maintenance(
            spark, stream, state, ckpt, ["o_orderpriority"], cols, partial
        )
        q.awaitTermination(120)

    orders.where(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(src)
    run_once()
    orders.where(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(src)
    run_once()

    srv = latest_agg_state(spark, state)
    served = {
        r["o_orderpriority"]: (r["n"], r["h"], r["p90"])
        for r in srv.select(
            "o_orderpriority", "n", "h",
            hist_quantile("h", 0.9, 0.0, 31250.0).alias("p90"),
        ).collect()
    }
    want = {
        r["o_orderpriority"]: (r["n"], r["h"], r["p90"])
        for r in partial(orders).select(
            "o_orderpriority", "n", "h",
            hist_quantile("h", 0.9, 0.0, 31250.0).alias("p90"),
        ).collect()
    }
    assert served == want


def test_stream_agg_maintenance_fi_state(spark, tmp_path):
    """Composition: streaming MV maintenance carrying an fi:64 sketch
    state column — the served heavy-hitter estimate after two arrivals
    equals the one-shot sketch (capacity-exact at this domain size)."""
    from lichess_db_spark.operators.incremental import (
        StateCol,
        fi_accumulate,
        fi_estimate,
    )
    from lichess_db_spark.streaming.ingest import (
        latest_agg_state,
        stream_agg_maintenance,
    )

    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "cust_bucket", (F.col("o_custkey") % 20).cast("string")
    )
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = [StateCol("n", "sum"), StateCol("fi", "fi:64")]

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"), fi_accumulate("cust_bucket", 64).alias("fi")
        )

    def run_once():
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_agg_maintenance(
            spark, stream, state, ckpt, ["o_orderpriority"], cols, partial
        )
        q.awaitTermination(120)

    orders.where(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(src)
    run_once()
    orders.where(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(src)
    run_once()

    read = lambda df: {  # noqa: E731
        r["o_orderpriority"]: (
            r["n"],
            [(e["item"], e["count"]) for e in r["top"]],
        )
        for r in df.select(
            "o_orderpriority", "n", fi_estimate("fi", 3).alias("top")
        ).collect()
    }
    assert read(latest_agg_state(spark, state)) == read(partial(orders))


def test_curation_batch_bloom_prefilter_identical(spark):
    """The Bloom anti-join prefilter must produce the IDENTICAL kept
    set as the plain anti-join (no-false-negative guarantee), while
    routing only the bloom-hit subset through the exact join."""
    from pyspark.sql import functions as F

    from lichess_db_spark.streaming.ingest import curation_batch_plan

    seen_texts = [(f"seen doc {i}",) for i in range(40)]
    batch_rows = (
        [(i, f"seen doc {i}") for i in range(0, 40, 2)]  # 20 known dups
        + [(100 + i, f"fresh doc {i}") for i in range(60)]  # 60 novel
        + [(999, None)]  # null text: NULL digest never matches state
    )
    seen = spark.createDataFrame(seen_texts, "text string").select(
        F.md5(F.lower(F.trim("text"))).alias("__digest")
    )
    batch = spark.createDataFrame(batch_rows, "doc_id int, text string")

    plain = {
        r.doc_id for r in curation_batch_plan(batch, seen).collect()
    }
    bloomed = {
        r.doc_id
        for r in curation_batch_plan(
            batch, seen, bloom_prefilter=(4096, 4)
        ).collect()
    }
    assert bloomed == plain
    # every known dup dropped; every novel kept, INCLUDING the
    # null-digest row (a NULL probe must count as a bloom miss — the
    # plain anti-join keeps it, so the prefilter must too)
    assert len(plain) == 61 and 999 in plain
    # a degenerate 1-bit filter hits everything -> still identical
    # (pure fallthrough to the exact join)
    tiny = {
        r.doc_id
        for r in curation_batch_plan(batch, seen, bloom_prefilter=(1, 1)).collect()
    }
    assert tiny == plain
    # the PREBUILT-bytes mode (broadcast + Arrow probe — the
    # steady-state streaming shape; a literal bitmap costs O(m) per
    # plan) must make the same decisions as the literal probe,
    # including the NULL-digest row
    from lichess_db_spark.operators.dedup import bloom_bitmap_bytes

    bb = bloom_bitmap_bytes(seen, "__digest", 4096, 4)
    pre = {
        r.doc_id
        for r in curation_batch_plan(
            batch, seen, bloom_prefilter=(bb, 4096, 4)
        ).collect()
    }
    assert pre == plain
    # STALENESS contract: the state grows after the bitmap build; a
    # duplicate of a post-build digest MISSES the stale bloom and —
    # without the delta check — is wrongly admitted (the lag trap);
    # passing seen_delta repairs it exactly
    delta = spark.createDataFrame([("late doc",)], "text string").select(
        F.md5(F.lower(F.trim("text"))).alias("__digest")
    )
    grown = seen.unionByName(delta)
    batch2 = spark.createDataFrame(
        [(1, "late doc"), (2, "another fresh doc")], "doc_id int, text string"
    )
    want = {
        r.doc_id for r in curation_batch_plan(batch2, grown).collect()
    }
    assert want == {2}
    trapped = {
        r.doc_id
        for r in curation_batch_plan(
            batch2, grown, bloom_prefilter=(bb, 4096, 4)
        ).collect()
    }
    assert trapped == {1, 2}  # the documented trap: stale bitmap admits the dup
    repaired = {
        r.doc_id
        for r in curation_batch_plan(
            batch2, grown, bloom_prefilter=(bb, 4096, 4), seen_delta=delta
        ).collect()
    }
    assert repaired == want


def test_stream_images_curation(spark, tmp_path):
    """Image member of the streaming-curation family: a batch-2 blob
    that is byte-identical to a kept batch-1 blob dies in the digest
    tier; a batch-2 blob within aHash Hamming 3 of a kept batch-1
    blob (one flipped byte on the decision edge) dies in the
    perceptual tier; unrelated blobs survive; replaying batch
    directories is idempotent (batch_id-scoped overwrites)."""
    from lichess_db_spark.streaming.ingest import stream_images_curation

    # engineered blobs: all-100 bytes sit every block mean exactly on
    # the global mean, so one raised byte flips exactly one bit
    base = bytes([100]) * 640
    tweaked = bytearray(base)
    tweaked[20] = 200  # one bit -> hamming 1
    far = bytes(([150] * 10 + [50] * 10) * 32)  # hash 1010... (far)
    b1 = spark.createDataFrame(
        [(1, base), (2, far)], "doc_id long, data binary"
    )
    b2 = spark.createDataFrame(
        [
            (10, bytes(base)),      # exact re-upload of 1 -> digest tier
            (11, bytes(tweaked)),   # near-dup of 1 -> perceptual tier
            # unrelated survivor: 0011-repeating block pattern (a
            # CONSTANT blob would aHash to all-zeros like base does —
            # brightness-invariant hash)
            (12, bytes(([50] * 20 + [150] * 20) * 16)),
        ],
        "doc_id long, data binary",
    )
    src = tmp_path / "isrc"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "iout"
    q = stream_images_curation(
        spark, str(src), str(out), str(tmp_path / "ickpt")
    )
    q.awaitTermination(240)

    kept = {r.doc_id for r in spark.read.parquet(str(out / "imgs")).collect()}
    assert kept == {1, 2, 12}
    # kept-only archives: dropped 10/11 never entered sigs or postings
    sig_ids = {
        r.doc_id for r in spark.read.parquet(str(out / "_phash_sigs")).collect()
    }
    assert sig_ids == {1, 2, 12}
    post_ids = {
        r.doc_id
        for r in spark.read.parquet(str(out / "_phash_postings"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert post_ids == {1, 2, 12}


def test_sessionize_stateful_matches_builtin_session_window(spark, staged_events):
    """The custom EventTimeTimeout sessionizer must emit exactly the
    sessions the built-in session_window aggregation emits in append
    mode over the same stream (same gap, same watermark): session
    boundaries by the ts < last + gap rule, emission exactly when the
    watermark passes last + gap, state REMOVED afterwards (the
    TTL-eviction contract that keeps custom stateful state bounded —
    NoTimeout operators never shed keys)."""
    from lichess_db_spark.streaming.ingest import (
        read_events_stream,
        session_agg,
        sessionize_stateful,
    )

    d, ev = staged_events
    schema = ev.schema
    gap, wm = "6 hours", "1 hour"

    custom = sessionize_stateful(
        read_events_stream(spark, d, schema).select("user_id", "ts"),
        gap=gap,
        watermark=wm,
    )
    q1 = (
        custom.writeStream.format("memory")
        .queryName("sess_custom")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in spark.table("sess_custom").collect()
    )

    builtin = session_agg(
        read_events_stream(spark, d, schema), gap=gap, watermark=wm
    )
    q2 = (
        builtin.writeStream.format("memory")
        .queryName("sess_builtin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    want = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in spark.table("sess_builtin").collect()
    )
    assert len(want) > 0  # the fixture must exercise emission
    assert got == want
    # multi-event sessions exist (the gap rule is non-vacuous)
    assert any(n > 1 for _, _, n in want)


def test_stateful_running_count_state_reentry(spark, staged_events):
    """Regression for the GroupState.get-is-a-property bug (r10): a
    user whose events span MULTIPLE micro-batches re-enters the
    operator with EXISTING state — maxFilesPerTrigger=1 forces one
    batch per staged file so re-entry actually happens (the plain
    availableNow read lumped all files into one batch, which is why
    four rounds of the single-batch test never caught the crash).
    Totals must still equal the batch window twin."""
    from lichess_db_spark.streaming.ingest import running_features_stateful

    d, ev = staged_events
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        running_features_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_reentry")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("stateful_reentry")
    # at least one user spans two files -> its max cum_events exceeds
    # its largest single-batch contribution; and totals match batch
    got_tot = got.groupBy("user_id").agg(F.max("cum_events").alias("n"))
    want_tot = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    assert got_tot.join(want_tot, ["user_id", "n"]).count() == want_tot.count()


def _stage_ordered_batches(spark, tmp_path, batches, schema):
    """Write each batch as ONE parquet file with strictly increasing
    mtimes so maxFilesPerTrigger=1 replays them in order."""
    import glob as _glob
    import os
    import shutil as _shutil

    src = tmp_path / "sess_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        scratch = tmp_path / f"sess_scratch_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(scratch))
        (part,) = _glob.glob(str(scratch / "part-*.parquet"))
        dst = src / f"batch-{i}.parquet"
        _shutil.copyfile(part, str(dst))
        os.utime(str(dst), (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return str(src)


def test_sessionize_stateful_late_and_bridge_events(spark, tmp_path):
    """ADVICE r10 (medium): the r10 sessionizer folded each event onto
    the LAST pending session only, so (a) a within-watermark late event
    EARLIER than a pending session's start was absorbed without
    extending session_start, and (b) an event landing between two
    pending sessions never MERGED them — both cases the built-in
    session_window handles, and the single-batch in-order equivalence
    test never exercised. This test forces them across real micro-batch
    re-entry (maxFilesPerTrigger=1) and asserts bit-equality with the
    built-in's append output.

    gap=10m, watermark=4h. Batch 1 (user 1): sessions A={10:00,10:05},
    B={10:30}, C={10:45}, D={11:30}. Batch 2: 09:55 extends A's start
    DOWNWARD; 10:38 BRIDGES B and C (within gap of both; D stays a
    separate session — one event can bridge at most its two flanking
    neighbors). Batch 3: a far-future row pushes the watermark past
    every session end, flushing user 1 completely."""
    import datetime as dt

    from lichess_db_spark.streaming.ingest import session_agg, sessionize_stateful

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    schema = "user_id long, ts timestamp"
    batches = [
        [(1, t(10, 0)), (1, t(10, 5)), (1, t(10, 30)), (1, t(10, 45)), (1, t(11, 30))],
        [(1, t(9, 55)), (1, t(10, 38))],
        [(99, t(20, 0))],
    ]
    src = _stage_ordered_batches(spark, tmp_path, batches, schema)
    gap, wm = "10 minutes", "4 hours"

    def run(make, name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            make(stream.select("user_id", "ts"), gap=gap, watermark=wm)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r.user_id, r.session_start, r.n_events)
            for r in spark.table(name).collect()
        )

    got = run(sessionize_stateful, "sess_custom_late")
    want = run(session_agg, "sess_builtin_late")
    assert got == want
    # the engineered paths actually fired: A extended downward to 09:55
    # with 3 events; B+C+bridge merged into one 3-event session at
    # 10:30; D stayed separate with 1 event.
    assert got == [
        (1, t(9, 55), 3),
        (1, t(10, 30), 3),
        (1, t(11, 30), 1),
    ]


def test_stream_documents_digest_state_cross_batch_reentry(spark, tmp_path):
    """VERDICT r10 item 6: the digest-dedup STATE path must be
    exercised by a key that re-enters in a LATER micro-batch — the
    single-run fixtures lump all staged files into one availableNow
    batch, so the cross-batch anti-join (persisted state, batch !=
    batch_id exclusion) never ran with foreign-batch data; the
    GroupState.get bug survived four rounds behind exactly this kind
    of lumping. Two sequential availableNow runs over ONE checkpoint
    give real distinct batch ids: run 2's re-uploaded texts (same
    digest, new doc_id) must die against run 1's persisted digest
    state — intra-batch dedup cannot save the test since the
    originals are not in batch 2."""
    from lichess_db_spark.streaming.ingest import stream_documents_curation

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") < 250)
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    q = stream_documents_curation(spark, str(src), str(out), str(ckpt))
    q.awaitTermination(180)
    kept1 = {r.doc_id for r in spark.read.parquet(str(out / "docs")).collect()}
    assert kept1  # batch 0 wrote survivors

    # batch 1: fresh docs + exact re-uploads of 20 kept batch-0 docs
    reups = (
        docs.where(F.col("doc_id").isin(*sorted(kept1)[:20]))
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    b2 = docs.where(F.col("doc_id") >= 250).unionByName(reups)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    q2 = stream_documents_curation(spark, str(src), str(out), str(ckpt))
    q2.awaitTermination(180)

    kept = {r.doc_id for r in spark.read.parquet(str(out / "docs")).collect()}
    assert not {i for i in kept if i >= 500000}  # every re-upload died
    assert kept1 <= kept  # batch-0 survivors untouched
    # and the state actually spans two batch ids (true re-entry ran)
    state = spark.read.parquet(str(out / "_digest_state"))
    assert state.select("batch").distinct().count() >= 2


def test_stream_images_phash_index_cross_batch_reentry(spark, tmp_path):
    """The image twin of the re-entry test: run 2's blobs probe run
    1's PERSISTED archives — a byte-identical re-upload dies in the
    digest-state tier, a Hamming-1 tweak dies against the batch-0
    posting/signature archive (the incremental pHash index path with
    a foreign batch_id), an unrelated blob survives. The prior
    single-run fixture staged both files before starting, which
    availableNow lumps into one batch — intra-batch logic alone could
    pass it."""
    from lichess_db_spark.streaming.ingest import stream_images_curation

    base = bytes([100]) * 640
    tweaked = bytearray(base)
    tweaked[20] = 200  # one aHash bit
    far = bytes(([150] * 10 + [50] * 10) * 32)
    src = tmp_path / "isrc"
    out = tmp_path / "iout"
    ckpt = tmp_path / "ickpt"

    spark.createDataFrame(
        [(1, base), (2, far)], "doc_id long, data binary"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = stream_images_curation(spark, str(src), str(out), str(ckpt))
    q.awaitTermination(240)
    assert {
        r.doc_id for r in spark.read.parquet(str(out / "imgs")).collect()
    } == {1, 2}

    spark.createDataFrame(
        [
            (10, bytes(base)),  # exact re-upload -> digest STATE tier
            (11, bytes(tweaked)),  # near-dup -> archived pHash index
            (12, bytes(([50] * 20 + [150] * 20) * 16)),  # survivor
        ],
        "doc_id long, data binary",
    ).coalesce(1).write.mode("append").parquet(str(src))
    q2 = stream_images_curation(spark, str(src), str(out), str(ckpt))
    q2.awaitTermination(240)

    kept = {r.doc_id for r in spark.read.parquet(str(out / "imgs")).collect()}
    assert kept == {1, 2, 12}
    # archives stay kept-only and now span two batch ids
    state = spark.read.parquet(str(out / "_digest_state"))
    assert state.select("batch").distinct().count() >= 2
    sig_ids = {
        r.doc_id for r in spark.read.parquet(str(out / "_phash_sigs")).collect()
    }
    assert sig_ids == {1, 2, 12}


def test_stream_kmv_matches_batch_sketch(spark, tmp_path):
    """Two arrival runs maintain the per-type KMV posting state; the
    served sketch's estimates equal the one-shot batch kmv_sketch over
    everything (the mergeability law, end to end through the
    streaming state), and the first run's state really was partial."""
    from lichess_db_spark.operators.aggregates import kmv_sketch
    from lichess_db_spark.streaming.ingest import (
        kmv_from_state,
        stream_kmv_maintenance,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "user_id"
    )
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = stream_kmv_maintenance(
            spark, stream, state, ckpt, "event_type", "user_id", k=16
        )
        q.awaitTermination(120)

    # split by USER so the second run genuinely introduces new
    # distinct values (event-id splits cover every user in both halves
    # on this fixture, making the partiality probe vacuous)
    first = ev.where(F.col("user_id") % 2 == 0)
    second = ev.where(F.col("user_id") % 2 == 1)
    first.write.mode("append").parquet(src)
    run_once()
    mid = {
        r["group"]: r["n_postings"]
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    second.write.mode("append").parquet(src)
    run_once()

    got = {
        r["group"]: (r["kth_hash"], r["kmv_estimate"])
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    want = {
        r["event_type"]: (r["kth_hash"], r["kmv_estimate"])
        for r in kmv_sketch(ev, "event_type", "user_id", k=16).collect()
    }
    assert got == want
    # the merge across runs grew at least one group's posting set
    fin = {
        r["group"]: r["n_postings"]
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    assert any(mid[g] < fin[g] for g in fin if g in mid)

    # idempotent replay: a third run with NO new files must leave the
    # served sketch identical
    run_once()
    again = {
        r["group"]: (r["kth_hash"], r["kmv_estimate"])
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    assert again == got


def test_stream_agg_maintenance_reentering_key_per_microbatch(spark, tmp_path):
    """VERDICT r11 item 7: the MV-maintenance fold must be exercised
    by a key that re-enters across REAL micro-batches inside ONE
    streaming run — maxFilesPerTrigger=1 over three staged files
    (every file carries every priority key) gives three batch ids in
    one query, so batch N's merge reads batch N-1's committed state
    twice in sequence, not just once across two availableNow runs.
    The final served MV must equal the one-shot batch aggregate, and
    the committed version id must prove >= 3 batches folded."""
    import glob as _glob

    from lichess_db_spark.operators.incremental import StateCol
    from lichess_db_spark.streaming.ingest import (
        latest_agg_state,
        stream_agg_maintenance,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = [
        StateCol("n_orders", "sum"),
        StateCol("total", "sum"),
        StateCol("last_date", "max"),
    ]

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("total"),
            F.max("o_orderdate").alias("last_date"),
        )

    # three files, EVERY priority key present in each (key re-entry
    # per micro-batch is the point)
    for third in range(3):
        orders.where(F.col("o_orderkey") % 3 == third).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_agg_maintenance(
        spark, stream, state, ckpt, ["o_orderpriority"], cols, partial
    )
    q.awaitTermination(240)

    got = sorted(tuple(r) for r in latest_agg_state(spark, state).collect())
    want = sorted(tuple(r) for r in partial(orders).collect())
    assert got == want
    versions = [
        int(p.rstrip("/").split("v")[-1])
        for p in _glob.glob(f"{state}/v*")
    ]
    assert max(versions) >= 2, f"expected >=3 micro-batches, saw {versions}"


def test_stream_kmv_reentering_key_per_microbatch(spark, tmp_path):
    """The KMV twin of the maxFilesPerTrigger=1 re-entry test: three
    user-disjoint files (every event_type in each) through ONE
    availableNow run = three micro-batches re-folding the same
    groups' posting state; the served sketch must equal the one-shot
    batch kmv_sketch (mergeability law under real sequential batch
    ids, not a single lumped batch)."""
    import glob as _glob

    from lichess_db_spark.operators.aggregates import kmv_sketch
    from lichess_db_spark.streaming.ingest import (
        kmv_from_state,
        stream_kmv_maintenance,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "user_id"
    )
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for third in range(3):
        ev.where(F.col("user_id") % 3 == third).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_kmv_maintenance(
        spark, stream, state, ckpt, "event_type", "user_id", k=16
    )
    q.awaitTermination(240)

    got = {
        r["group"]: (r["n_postings"], r["kth_hash"], r["kmv_estimate"])
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    want = {
        r["event_type"]: (r["n_hashes"], r["kth_hash"], r["kmv_estimate"])
        for r in kmv_sketch(ev, "event_type", "user_id", k=16).collect()
    }
    # kth hash + estimate must match the one-shot batch sketch exactly;
    # the state keeps at most k postings where the batch operator
    # reports the TRUE distinct count, so the count column compares
    # through min(., k)
    assert set(got) == set(want)
    for g in got:
        assert got[g][1:] == want[g][1:], g
        assert got[g][0] == min(want[g][0], 16), g
    versions = [
        int(p.rstrip("/").split("v")[-1])
        for p in _glob.glob(f"{state}/v*")
    ]
    assert max(versions) >= 2, f"expected >=3 micro-batches, saw {versions}"


def test_stream_embeddings_curation_cross_batch_reentry(spark, tmp_path):
    """The embedding member of the r11 re-entry fleet (docs and images
    got theirs in r11; this path's fixture still staged both files
    before ONE availableNow run, which lumps them into a single batch
    — intra-batch dedup alone could pass it). Two sequential
    availableNow runs over ONE checkpoint give real distinct batch
    ids: run 2's exact re-uploads must die against run 1's PERSISTED
    digest state, run 2's near-dups against run 1's posting archive +
    exact-cosine verify (foreign batch_id probes), and the archives
    must span >=2 batch ids."""
    import glob as _glob

    from pyspark.sql.types import ArrayType, FloatType

    from lichess_db_spark.streaming.ingest import stream_embeddings_curation

    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    src = tmp_path / "esrc"
    out = tmp_path / "eout"
    ckpt = tmp_path / "eckpt"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    q = stream_embeddings_curation(
        spark, str(src), str(out), str(ckpt), threshold=0.9, target_corpus=600
    )
    q.awaitTermination(240)
    kept1 = {r.vec_id for r in spark.read.parquet(str(out / "vecs")).collect()}
    assert kept1

    near = b1.limit(10).select(
        (F.col("vec_id") + 700000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.001)).cast("float")),
            F.slice("embedding", 2, 63),
        ).cast(ArrayType(FloatType())).alias("embedding"),
        "label",
    )
    exact = b1.limit(5).select(
        (F.col("vec_id") + 800000).alias("vec_id"), "embedding", "label"
    )
    b2 = emb.where(F.col("vec_id") % 2 == 1).unionByName(near).unionByName(exact)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    q2 = stream_embeddings_curation(
        spark, str(src), str(out), str(ckpt), threshold=0.9, target_corpus=600
    )
    q2.awaitTermination(240)

    kept = {r.vec_id for r in spark.read.parquet(str(out / "vecs")).collect()}
    assert not {v for v in kept if 700000 <= v < 900000}, (
        "a run-2 re-upload survived against run-1's persisted archives"
    )
    assert kept1 <= kept  # run-1 survivors untouched
    # archives really span two batch ids (true foreign-batch re-entry)
    batches = {
        p.rsplit("batch=", 1)[1]
        for p in _glob.glob(str(out / "_digest_state" / "batch=*"))
    }
    assert len(batches) >= 2, batches


def test_stream_dedup_cross_batch_state_probe(spark, tmp_path):
    """stream_dedup's original fixture doubles events inside one
    availableNow batch, so the drop could be purely intra-batch. Force
    the duplicate copies into a LATER micro-batch (maxFilesPerTrigger=1
    over mtime-ordered files): copies of the 20 LATEST batch-1 events —
    ts at the watermark frontier, so their keys' state is still live —
    must die against CROSS-BATCH state, while genuinely new batch-2
    events (later ts) survive."""
    import datetime as dt

    ev = (
        load_table(spark, SF_SMALL, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "user_id", "ts")
    )
    rows1 = [(r.event_id, r.user_id, r.ts) for r in ev.collect()]
    latest = sorted(rows1, key=lambda r: r[2])[-20:]
    max_ts = max(r[2] for r in rows1)
    fresh = [
        (10_000_000 + i, 1, max_ts + dt.timedelta(minutes=i + 1))
        for i in range(5)
    ]
    schema = "event_id long, user_id long, ts timestamp"
    src = _stage_ordered_batches(
        spark, tmp_path, [rows1, list(latest) + fresh], schema
    )
    from lichess_db_spark.streaming.ingest import stream_dedup

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream_dedup(stream, ["event_id"], ts_col="ts")
        .writeStream.format("memory")
        .queryName("xbatch_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("xbatch_dedup")
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert len(ids) == len(set(ids)), "a cross-batch duplicate survived"
    assert len(ids) == len(rows1) + len(fresh)
    assert {i for i, _, _ in fresh} <= set(ids)


def test_stream_kmv_ignores_uncommitted_and_survives_checkpoint_wipe(spark, tmp_path):
    """KMV state rides the same versioned _SUCCESS crash contract as
    the agg MV — prove it on this path too: (a) a crashed batch's
    partial state version (no _SUCCESS) is never served; (b) the
    harshest replay — wiping the CHECKPOINT and re-running every batch
    against the existing state — leaves the served sketch identical
    (per-batch merge is a set-union no-op under replay)."""
    import os as _os
    import shutil as _shutil

    from lichess_db_spark.streaming.ingest import (
        kmv_from_state,
        stream_kmv_maintenance,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "user_id"
    )
    src = str(tmp_path / "arrivals")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev.where(F.col("user_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = stream_kmv_maintenance(
            spark, stream, state, ckpt, "event_type", "user_id", k=16
        )
        q.awaitTermination(120)

    run_once()
    before = {
        r["group"]: (r["n_postings"], r["kth_hash"])
        for r in kmv_from_state(spark, state, k=16).collect()
    }

    # (a) a fake LATER uncommitted version must be invisible
    bad = spark.createDataFrame([("zzz", 1)], "__grp string, hv bigint")
    bad.write.mode("overwrite").parquet(f"{state}/v999")
    _os.remove(f"{state}/v999/_SUCCESS")
    mid = {
        r["group"]: (r["n_postings"], r["kth_hash"])
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    assert mid == before
    _shutil.rmtree(f"{state}/v999")

    # (b) wipe the checkpoint: every batch replays against the
    # existing committed state; the sketch must not move
    _shutil.rmtree(ckpt)
    run_once()
    after = {
        r["group"]: (r["n_postings"], r["kth_hash"])
        for r in kmv_from_state(spark, state, k=16).collect()
    }
    assert after == before
