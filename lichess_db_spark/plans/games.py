"""The lichess domain pipeline (SURVEY.md §7 phase 3).

raw parsed games (White/Black wide, all strings)
  -> clean      (P6 '?'-null, F2-F5 casts/derives, P9 flags, F14 backfill)
  -> unpivot    (P2+P3+U1 as a single-scan explode of two role structs —
                 the reference scans its NDJSON twice and merge-sorts,
                 ingester.py:345-404; explode halves the IO)
  -> features   (W1-W6 running windows over (Event/Player, DateTime, ID))
  -> bin        (F11 PlayerElo_bin)

Output is the canonical player-game-role table (SURVEY.md §1.3,
reference ingester.py:284,345-369). Scale: the only shuffles are the
running windows' Player partitioning and the opponent window's ID
partitioning; everything else is narrow. At 100 TB, write bucketed by
Player so downstream per-player analytics (cell-8 self-join shape)
co-locate for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import (
    concat_datetime,
    elo_bin,
    elo_smallint,
    invert_result,
    question_to_null,
    site_to_id,
    stable_unit_hash_str,
    strip_tournament_suffix,
    truncate_moves,
)

# string header columns that get '?'-null treatment (ingester.py:325-334
# applies it to everything except the int-typed columns)
_Q_NULL_COLS = (
    "Event",
    "Site",
    "White",
    "Black",
    "Result",
    "WhiteTitle",
    "BlackTitle",
    "ECO",
    "Opening",
    "TimeControl",
    "Termination",
)


def clean_games(raw: DataFrame, include_moves: bool = False) -> DataFrame:
    """Header strings -> typed game-level columns (one row per game),
    built as ONE projection: raw columns keep their positions (typed
    in place), derived columns follow in a fixed order."""
    q = {c: question_to_null(c) if c in _Q_NULL_COLS else F.col(c) for c in raw.columns}
    gid = site_to_id(q["Site"])
    cols = {
        **q,
        "Event": strip_tournament_suffix(q["Event"]),
        "WhiteElo": elo_smallint("WhiteElo"),
        "BlackElo": elo_smallint("BlackElo"),
        "WhiteRatingDiff": elo_smallint("WhiteRatingDiff"),
        "BlackRatingDiff": elo_smallint("BlackRatingDiff"),
        "Tournament": F.coalesce(q["Event"].contains("tournament"), F.lit(False)),
        "ID": gid,
        "DateTime": concat_datetime("UTCDate", "UTCTime"),
        "WhiteTitle_flag": q["WhiteTitle"].isNotNull(),
        "BlackTitle_flag": q["BlackTitle"].isNotNull(),
        # W6: per-game random — deterministic replacement for the
        # reference's unseeded random() (drawn twice, second wins,
        # ingester.py:195); keyed on the game ID.
        "ID_random": stable_unit_hash_str(gid),
        # W5: per-player stable tags
        "White_random": stable_unit_hash_str(q["White"]),
        "Black_random": stable_unit_hash_str(q["Black"]),
    }
    if include_moves and "Moves" in cols:
        cols["Evaluation_flag"] = F.coalesce(F.col("Moves").contains("eval"), F.lit(False))
        cols["Moves"] = truncate_moves("Moves")
    else:
        cols.pop("Moves", None)
    return raw.select(*(e.alias(c) for c, e in cols.items()))


def _role_struct(role: str, include_moves: bool) -> Column:
    me, opp = ("White", "Black") if role == "White" else ("Black", "White")
    result = F.col("Result") if role == "White" else invert_result("Result")
    fields = [
        F.lit(role).alias("Role_player"),
        F.col(me).alias("Player"),
        F.col(opp).alias("Opponent"),
        F.col(f"{me}Elo").alias("PlayerElo"),
        F.col(f"{opp}Elo").alias("OpponentElo"),
        F.col(f"{me}Title").alias("PlayerTitle"),
        F.col(f"{opp}Title").alias("OpponentTitle"),
        F.col(f"{me}Title_flag").alias("PlayerTitle_flag"),
        F.col(f"{opp}Title_flag").alias("OpponentTitle_flag"),
        F.col(f"{me}RatingDiff").alias("PlayerRatingDiff"),
        F.col(f"{opp}RatingDiff").alias("OpponentRatingDiff"),
        F.col(f"{me}_random").alias("Player_random"),
        F.col(f"{opp}_random").alias("Opponent_random"),
        result.alias("Result"),
    ]
    return F.struct(*fields)


def unpivot_roles(games: DataFrame, include_moves: bool = False) -> DataFrame:
    """P2+P3+U1 as one explode: each game emits a White-perspective and
    a Black-perspective struct; Result is inverted on the Black row via
    a when-chain (F9 de-UDF'd, reference used a Python lambda at
    ingester.py:377). Single scan — the reference reads its NDJSON
    twice and merge-sorts (ingester.py:329-403)."""
    shared = ["ID", "ID_random", "Event", "Tournament", "ECO", "Opening", "TimeControl",
              "Termination", "DateTime"]
    if include_moves:
        shared += ["Moves", "Evaluation_flag"]
    roles = F.explode(
        F.array(_role_struct("White", include_moves), _role_struct("Black", include_moves))
    ).alias("r")
    return games.select(*shared, roles).select(*shared, "r.*")


# (Player_* feature, the Opponent_* column it becomes on the other row)
_OPPONENT_OF = (
    ("Player_cum_games_type", "Opponent_cum_games_type"),
    ("Player_cum_games_total", "Opponent_cum_games_total"),
    ("PlayerElo_max", "OpponentElo_max"),
    ("PlayerElo_max_faced", "OpponentElo_max_faced"),
)


def _offset_by_state(df: DataFrame, state: DataFrame) -> DataFrame:
    """Offset within-batch running features by a prior per-(Event,
    Player) state (``n_type``, ``elo_max``, ``elo_max_faced``): counts
    add, maxes floor. Keys match null-safely, as the windows' own
    partitioning groups NULLs (a ``?`` Event is NULL after cleaning).
    Plain hash joins: state is |players|x|types| rows, and AQE
    broadcasts it when small."""
    st = state.select(
        F.col("Event").alias("_se"), F.col("Player").alias("_sp"),
        F.col("n_type").alias("_nt"), F.col("elo_max").alias("_em"),
        F.col("elo_max_faced").alias("_emf"),
    )
    tot = state.groupBy(F.col("Player").alias("_tp")).agg(F.sum("n_type").alias("_ntot"))
    df = df.join(
        st, df["Event"].eqNullSafe(st["_se"]) & df["Player"].eqNullSafe(st["_sp"]), "left"
    ).join(tot, df["Player"].eqNullSafe(tot["_tp"]), "left")
    return df.withColumns({
        "Player_cum_games_type":
            (F.col("Player_cum_games_type") + F.coalesce("_nt", F.lit(0))).cast("int"),
        "Player_cum_games_total":
            (F.col("Player_cum_games_total") + F.coalesce("_ntot", F.lit(0))).cast("int"),
        "PlayerElo_max": F.greatest("PlayerElo_max", "_em").cast("int"),
        "PlayerElo_max_faced": F.greatest("PlayerElo_max_faced", "_emf").cast("int"),
    }).drop("_se", "_sp", "_nt", "_em", "_emf", "_tp", "_ntot")


def add_features(unpivoted: DataFrame, state: DataFrame | None = None) -> DataFrame:
    """W1-W4 running features + F11 bin, then the reference's global
    sort (O1, ingester.py:404) is left to the caller — sorting is a
    query-time concern in Spark (writers can bucket instead).

    ``state`` (optional) is a prior cumulative per-(Event, Player)
    state, as the streaming ingest persists it: the Player_* features
    are offset by it before the Opponent side is derived, so both
    sides continue across batches.

    Opponent-side features (reference emits both sides per row,
    ingester.py:345-369) are NOT re-windowed: a game's Opponent_* are
    exactly the other role's Player_* (test-pinned invariant), so one
    ``Window.partitionBy("ID")`` hands each row the other role's
    values. The plan is one lineage with two exchanges (Player for the
    running windows, ID for this one) and no join. Rows with a NULL ID
    are dropped, after the running windows have counted them. A
    duplicated ID does not fan out: each of its rows takes the
    greatest (in field order) Player_* tuple among the other role's
    rows.
    """
    from ..operators.windows import add_running_features

    df = add_running_features(unpivoted)
    if state is not None:
        df = _offset_by_state(df, state)
    df = df.where(F.col("ID").isNotNull())
    by_id = Window.partitionBy("ID")
    feats = F.struct(*(p for p, _ in _OPPONENT_OF))
    white, black = (
        F.max(F.when(F.col("Role_player") == role, feats)).over(by_id)
        for role in ("White", "Black")
    )
    df = df.withColumn("_opp", F.when(F.col("Role_player") == "White", black).otherwise(white))
    rest = [c for c in df.columns if c not in ("ID", "Role_player", "_opp")]
    return df.select(
        "ID", "Role_player", *rest,
        *(F.col("_opp")[p].alias(o) for p, o in _OPPONENT_OF),
        elo_bin("PlayerElo").alias("PlayerElo_bin"),
    )


def games_pipeline(
    raw: DataFrame, include_moves: bool = False, state: DataFrame | None = None
) -> DataFrame:
    """Full phase-3 pipeline: raw parsed games -> canonical table;
    ``state`` continues the running features (see add_features)."""
    return add_features(
        unpivot_roles(clean_games(raw, include_moves), include_moves), state
    )
