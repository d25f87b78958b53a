"""Spark 4 Python DataSource for PGN (format('pgn'))."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lichess_db_spark.plans.games import games_pipeline
from lichess_db_spark.sources.pgn_datasource import register_pgn_source

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")


def test_pgn_format_reads_games(spark):
    register_pgn_source(spark)
    df = spark.read.format("pgn").load(FIXTURE)
    assert df.count() == 6
    row = df.where(F.col("Site").endswith("j1dkb5dw")).first()
    assert row.White == "BFG9k" and row.BlackTitle is None
    # flows into the same domain pipeline as every other source
    assert games_pipeline(df).count() == 12


def test_pgn_format_matches_relational_parser(spark):
    from lichess_db_spark.sources.pgn import parse_pgn_text

    register_pgn_source(spark)
    a = spark.read.format("pgn").load(FIXTURE).select("Site", "White", "Result")
    b = parse_pgn_text(spark, FIXTURE).select("Site", "White", "Result")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_pgn_stream_reads_arriving_files(spark, tmp_path):
    """The stream path (binaryFile file source -> JVM parse in
    stream_games_ingest): a chunk that lands while the query runs is
    picked up by the next micro-batch."""
    import shutil

    from lichess_db_spark.streaming.ingest import stream_games_ingest

    d = tmp_path / "stream"
    d.mkdir()
    out = str(tmp_path / "games")
    shutil.copy(FIXTURE, d / "chunk_00000.pgn")
    q = stream_games_ingest(
        spark, str(d / "*.pgn"), out, str(tmp_path / "ckpt"), available_now=False
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 12
        # a new staged chunk arrives -> next micro-batch picks it up
        text = open(FIXTURE, encoding="utf-8").read()
        (d / "chunk_00001.pgn").write_text(
            text.replace("lichess.org/", "lichess.org/x"), encoding="utf-8"
        )
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 24
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) == 2, [p["numInputRows"] for p in q.recentProgress]
    finally:
        q.stop()
