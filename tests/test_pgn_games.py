"""Golden-fixture tests for the PGN parser and domain pipeline
(SURVEY.md §5 item 2: parse -> clean -> unpivot -> features)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lichess_db_spark.plans.games import clean_games, games_pipeline, unpivot_roles
from lichess_db_spark.sources.pgn import parse_pgn_partitions, parse_pgn_text

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")


@pytest.fixture(scope="module")
def raw_games(spark):
    return parse_pgn_text(spark, FIXTURE).cache()


def test_parse_game_count(raw_games):
    assert raw_games.count() == 6


def test_parse_headers(raw_games):
    g = raw_games.where(F.col("Site") == "https://lichess.org/j1dkb5dw").first()
    assert g.White == "BFG9k"
    assert g.Black == "mamalak"
    assert g.WhiteElo == "1639"
    assert g.WhiteRatingDiff == "+5"
    assert g.WhiteTitle == "GM"
    assert g.BlackTitle is None  # F14 backfill via absent-key -> NULL
    assert g.Moves.startswith("1. e4 e6")


def test_parse_python_twin_matches(raw_games):
    with open(FIXTURE) as fh:
        rows = list(parse_pgn_partitions(iter(fh)))
    assert len(rows) == 6
    assert rows[0]["Site"] == "https://lichess.org/j1dkb5dw"
    assert rows[1]["BlackElo"] == "?"


def test_clean_games(raw_games):
    cleaned = clean_games(raw_games, include_moves=True)
    rows = {r.ID: r for r in cleaned.collect()}
    g1 = rows["j1dkb5dw"]
    assert g1.WhiteElo == 1639 and g1.WhiteRatingDiff == 5  # '+'-strip + cast
    assert g1.Tournament is False
    assert g1.WhiteTitle_flag is True and g1.BlackTitle_flag is False
    assert str(g1.DateTime) == "2012-12-31 23:01:03"
    g2 = rows["aaaabbbb"]
    assert g2.BlackElo is None  # '?' -> NULL
    assert g2.Tournament is True
    assert g2.Event == "Rated Bullet"  # tournament suffix stripped
    assert g2.Evaluation_flag is True
    assert g2.Moves.endswith("3. Bd3 e6 ")  # truncated at "4."
    g5 = rows["gggghhhh"]
    assert g5.Moves == "1. g3 1-0"  # no "4." -> untouched


def test_unpivot_doubles_and_inverts(raw_games):
    up = unpivot_roles(clean_games(raw_games))
    assert up.count() == 12  # 2 rows per game
    g2 = {r.Role_player: r for r in up.where(F.col("ID") == "aaaabbbb").collect()}
    assert g2["White"].Result == "0-1"
    assert g2["Black"].Result == "1-0"  # F9 inversion
    assert g2["Black"].Player == "zugzwang99"
    assert g2["Black"].PlayerElo is None and g2["Black"].OpponentElo == 1401
    draw = {r.Role_player: r for r in up.where(F.col("ID") == "ccccdddd").collect()}
    assert draw["Black"].Result == "1/2-1/2"  # identity for non-decisive


def test_running_features(raw_games):
    out = games_pipeline(raw_games)
    bfg = (
        out.where((F.col("Player") == "BFG9k"))
        .orderBy("DateTime", "ID")
        .collect()
    )
    # BFG9k plays games 1 (blitz), 3 (blitz), 4 (as Black, blitz), 6 (blitz)
    assert [r.Player_cum_games_total for r in bfg] == [1, 2, 3, 4]
    assert [r.Player_cum_games_type for r in bfg] == [1, 2, 3, 4]  # all Rated Blitz
    assert [r.PlayerElo_max for r in bfg] == [1639, 1644, 1649, 1653]
    # max faced (intended semantics): running max of opponent Elo
    assert [r.PlayerElo_max_faced for r in bfg] == [1403, 1722, 1722, 1722]
    mam = out.where(F.col("Player") == "mamalak").orderBy("DateTime", "ID").collect()
    assert [r.Player_cum_games_total for r in mam] == [1, 2, 3, 4, 5]
    # per-type resets for the bullet tournament game
    assert [r.Player_cum_games_type for r in mam] == [1, 1, 2, 1, 3]


def test_invariants(raw_games):
    out = games_pipeline(raw_games).cache()
    # each ID appears exactly twice
    bad = out.groupBy("ID").count().where(F.col("count") != 2)
    assert bad.count() == 0
    # player tag stable across rows
    tags = out.groupBy("Player").agg(F.countDistinct("Player_random").alias("n"))
    assert tags.where(F.col("n") != 1).count() == 0
    # Elo bin labels
    r = out.where((F.col("ID") == "j1dkb5dw") & (F.col("Role_player") == "White")).first()
    assert r.PlayerElo_bin == "(1600, 1800]"


def test_mirrored_feature_consistency(raw_games):
    """Each game's White row's Opponent_* features must equal the
    Black row's Player_* features for the same game (and vice versa)
    — the invariant that catches wrong window partitionings."""
    out = games_pipeline(raw_games)
    w = out.where(F.col("Role_player") == "White").select(
        "ID",
        F.col("Player_cum_games_total").alias("w_p_tot"),
        F.col("Opponent_cum_games_total").alias("w_o_tot"),
        F.col("PlayerElo_max").alias("w_p_max"),
        F.col("OpponentElo_max").alias("w_o_max"),
    )
    b = out.where(F.col("Role_player") == "Black").select(
        "ID",
        F.col("Player_cum_games_total").alias("b_p_tot"),
        F.col("Opponent_cum_games_total").alias("b_o_tot"),
        F.col("PlayerElo_max").alias("b_p_max"),
        F.col("OpponentElo_max").alias("b_o_max"),
    )
    j = w.join(b, "ID")
    bad = j.where(
        (F.col("w_p_tot") != F.col("b_o_tot"))
        | (F.col("w_o_tot") != F.col("b_p_tot"))
        | (F.col("w_p_max") != F.col("b_o_max"))
        | (F.col("w_o_max") != F.col("b_p_max"))
    )
    assert bad.count() == 0, bad.collect()


def test_pipeline_is_one_lineage(spark, tmp_path):
    """The opponent side comes from the same lineage (an ID window), not
    a self-join: the executed plan scans the chunks once and joins
    nothing. A game whose Site is ``?`` has a NULL ID; its rows are
    dropped."""
    text = open(FIXTURE, encoding="utf-8").read()
    p = tmp_path / "chunk.pgn"
    p.write_text(
        text
        + '[Event "Rated Blitz game"]\n[Site "?"]\n[White "mamalak"]\n'
        '[Black "ghost"]\n[Result "1-0"]\n[UTCDate "2013.01.02"]\n'
        '[UTCTime "10:00:00"]\n[WhiteElo "1400"]\n[BlackElo "1300"]\n\n'
        "1. e4 e5 1-0\n\n",
        encoding="utf-8",
    )
    raw = parse_pgn_text(spark, str(p))
    assert raw.count() == 7
    out = games_pipeline(raw.drop("game_id"))
    rows = out.collect()
    assert len(rows) == 12
    assert all(r.ID is not None for r in rows)
    assert not any(r.Player == "ghost" for r in rows)
    # the adaptive plan prints its final plan, then the initial one
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    assert plan.count("FileScan binaryFile") == 1, plan
    assert "Join" not in plan, plan


def test_multisplit_chunk_order_contract(spark, tmp_path):
    """Line order must come from file content, not partition ids: a
    chunk many times larger than maxPartitionBytes parses identically
    to the imperative twin. binaryFile + posexplode makes this hold by
    contract (the source is non-splittable), where the old
    spark.read.text + monotonically_increasing_id form relied on
    FileSourceScan packing splits in offset order."""
    games = []
    for i in range(300):
        games.append(
            f'[Event "Rated Blitz game"]\n'
            f'[Site "https://lichess.org/g{i:08d}"]\n'
            f'[White "w{i}"]\n'
            f'[Black "b{i}"]\n'
            f'[Result "1-0"]\n'
            f'[UTCDate "2024.01.01"]\n'
            f'[UTCTime "00:00:{i % 60:02d}"]\n'
            f'[WhiteElo "{1000 + i}"]\n'
            f'[BlackElo "{1500 + i}"]\n'
            "\n"
            f"1. e4 e5 2. Nf3 Nc6 move{i} 1-0\n"
            "\n"
        )
    text = "".join(games)
    p = tmp_path / "chunk.pgn"
    p.write_text(text)
    assert len(text) > 16 * 4096  # many splits' worth at the conf below
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        got = sorted(
            (r.Site, r.White, r.Black, r.WhiteElo, r.BlackElo, r.Moves)
            for r in parse_pgn_text(spark, str(p)).collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    with open(p) as fh:
        want = sorted(
            (g["Site"], g["White"], g["Black"], g["WhiteElo"], g["BlackElo"], g["Moves"])
            for g in parse_pgn_partitions(iter(fh))
        )
    assert len(got) == 300
    assert got == want


def test_facade_api(raw_games):
    from lichess_db_spark.api import LichessDB

    db = LichessDB(raw_games.sparkSession, games=games_pipeline(raw_games))
    assert db.total_games().first()["Num games"] == 6
    assert db.top_players(3).count() == 3
    assert db.sql("SELECT COUNT(DISTINCT ID) AS n FROM games").first().n == 6
