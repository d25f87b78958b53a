"""Seeded synthetic lichess PGN months for the benchmark.

Each month is written as one uncompressed PGN stream file (the shape of
a decompressed ``lichess_db_standard_rated_YYYY-MM.pgn.zst``), plus a
``manifest.json`` of per-month game counts. The same seed gives
byte-identical files.

The mix follows BASELINE.md: results white 0.497 / black 0.465 /
draw 0.038, terminations Normal 0.667 / Time forfeit 0.328 /
Abandoned 0.0045. Player popularity is Zipf-skewed, so a few hot
players dominate the (Event, Player) running windows, and one player
pool is shared by every month, so players recur across months. Months
start at January 2023.
"""

from __future__ import annotations

import calendar
import json
import os

import numpy as np

EVENTS = (  # (event stem, weight, time controls)
    ("Rated Blitz", 0.46, ("180+0", "180+2", "300+0", "300+3")),
    ("Rated Bullet", 0.30, ("60+0", "120+1")),
    ("Rated Rapid", 0.14, ("600+0", "600+5", "900+10")),
    ("Rated Classical", 0.04, ("1800+0", "1800+20")),
    ("Casual Blitz", 0.06, ("300+0",)),
)
TOURNAMENT_SHARE = 0.12
UNKNOWN_ELO_SHARE = 0.01
EVAL_SHARE = 0.05
RESULTS = (("1-0", 0.497), ("0-1", 0.465), ("1/2-1/2", 0.038))
TERMINATIONS = (
    ("Normal", 0.667),
    ("Time forfeit", 0.328),
    ("Abandoned", 0.0045),
    ("Rules infraction", 0.0005),
)
OPENINGS = (
    ("C00", "French Defense: Normal Variation"),
    ("B01", "Scandinavian Defense"),
    ("C20", "King's Pawn Game"),
    ("A00", "Hungarian Opening"),
    ("D00", "Queen's Pawn Game"),
    ("B12", "Caro-Kann Defense: Advance Variation"),
    ("C50", "Italian Game"),
    ("B20", "Sicilian Defense"),
    ("C41", "Philidor Defense"),
    ("A40", "Horwitz Defense"),
    ("B00", "Owen Defense"),
    ("C44", "Scotch Game"),
    ("D02", "Queen's Pawn Game: London System"),
    ("A45", "Indian Defense"),
    ("B10", "Caro-Kann Defense"),
    ("C02", "French Defense: Advance Variation"),
    ("E00", "Catalan Opening"),
    ("B22", "Sicilian Defense: Alapin Variation"),
    ("C60", "Ruy Lopez"),
    ("D20", "Queen's Gambit Accepted"),
    ("A04", "Zukertort Opening"),
    ("B06", "Modern Defense"),
    ("C42", "Russian Game"),
    ("D06", "Queen's Gambit Refused"),
)
TITLES = ("GM", "IM", "FM", "NM", "CM", "WGM")
SAN = (
    "e4 e5 d4 d5 Nf3 Nc6 Nc3 Nf6 Bc4 Bb5 Be2 Bd3 O-O O-O-O Re1 Rd8 Qe2 Qd7 "
    "c4 c5 c3 c6 h3 h6 a3 a6 g3 g6 Bg2 Bg7 Nd2 Nbd7 exd5 cxd4 Nxd4 Bxf7+ "
    "Kh1 Kg8 Rad1 Rfe8 Qxd5 Bxc6 bxc6 f4 f5 Ne5 Ng4 Rxe5 Qh5+ Kf8 b4 b5"
).split()
FIRST_YEAR = 2023
ALNUM = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)


def _choice(rng: np.random.Generator, items, n: int) -> np.ndarray:
    p = np.array([it[1] for it in items], dtype=float)
    return rng.choice(len(items), size=n, p=p / p.sum())


def _player_pool(rng: np.random.Generator, n_players: int):
    names = [f"p{i:06d}_{rng.integers(1 << 20):05x}" for i in range(n_players)]
    titles = np.where(
        rng.random(n_players) < 0.02, rng.choice(len(TITLES), n_players), -1
    )
    base_elo = np.clip(rng.normal(1500, 350, n_players), 600, 3200).astype(int)
    # Zipf popularity over a shuffled rank order: rank r plays ~ 1/r^1.1
    weights = 1.0 / np.arange(1, n_players + 1) ** 1.1
    rng.shuffle(weights)
    return names, titles, base_elo, weights / weights.sum()


def _moves(rng: np.random.Generator, result: str, with_eval: bool) -> str:
    n_full = int(np.clip(rng.normal(36, 14), 3, 120))
    toks = rng.integers(len(SAN), size=2 * n_full)
    parts = []
    for i in range(n_full):
        parts.append(f"{i + 1}. {SAN[toks[2 * i]]}")
        if with_eval and i < 3:
            parts.append(f"{{ [%eval {rng.normal(0, 0.6):.2f}] }}")
        parts.append(SAN[toks[2 * i + 1]])
    parts.append(result)
    return " ".join(parts)


def generate(seed: int, out_dir: str, months: int, games_per_month: int) -> dict:
    """Write ``months`` PGN month files + manifest.json; return the
    manifest. Game ids are unique across months; there is one player
    for every 8 games."""
    rng = np.random.default_rng(seed)
    n_players = max(50, games_per_month * months // 8)
    names, titles, base_elo, pop = _player_pool(rng, n_players)
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "players": n_players, "months": []}
    ids_seen: set[str] = set()
    for m in range(months):
        year, month = FIRST_YEAR + m // 12, 1 + m % 12
        n = games_per_month
        white = rng.choice(n_players, size=n, p=pop)
        black = rng.choice(n_players, size=n, p=pop)
        clash = white == black
        black[clash] = (black[clash] + 1) % n_players
        ev = _choice(rng, EVENTS, n)
        tourn = rng.random(n) < TOURNAMENT_SHARE
        res = _choice(rng, RESULTS, n)
        term = _choice(rng, TERMINATIONS, n)
        op = np.minimum(rng.zipf(1.3, n) - 1, len(OPENINGS) - 1)
        tc = rng.integers(0, 4, n)
        days = calendar.monthrange(year, month)[1]
        secs = np.sort(rng.integers(0, days * 86400, n))
        w_elo = base_elo[white] + rng.integers(-60, 61, n)
        b_elo = base_elo[black] + rng.integers(-60, 61, n)
        w_unknown = rng.random(n) < UNKNOWN_ELO_SHARE
        b_unknown = rng.random(n) < UNKNOWN_ELO_SHARE
        diff = rng.integers(1, 12, n)
        evals = rng.random(n) < EVAL_SHARE
        raw_ids = ALNUM[rng.integers(0, len(ALNUM), (n, 8))]
        path = os.path.join(out_dir, f"lichess_{year}-{month:02d}.pgn")
        with open(path, "w", encoding="utf-8") as fh:
            for i in range(n):
                gid = raw_ids[i].tobytes().decode()
                while gid in ids_seen:
                    gid = "".join(chr(c) for c in rng.choice(ALNUM, 8))
                ids_seen.add(gid)
                stem, _, tcs = EVENTS[ev[i]]
                event = (
                    f"{stem} tournament https://lichess.org/tournament/t{ev[i]}{month:02d}"
                    if tourn[i] else f"{stem} game"
                )
                result = RESULTS[res[i]][0]
                wd = {"1-0": diff[i], "0-1": -diff[i]}.get(result, 0)
                d, s = divmod(int(secs[i]), 86400)
                lines = [
                    f'[Event "{event}"]',
                    f'[Site "https://lichess.org/{gid}"]',
                    f'[White "{names[white[i]]}"]',
                    f'[Black "{names[black[i]]}"]',
                    f'[Result "{result}"]',
                    f'[UTCDate "{year}.{month:02d}.{d + 1:02d}"]',
                    f'[UTCTime "{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"]',
                    f'[WhiteElo "{"?" if w_unknown[i] else w_elo[i]}"]',
                    f'[BlackElo "{"?" if b_unknown[i] else b_elo[i]}"]',
                    f'[WhiteRatingDiff "{wd:+d}"]',
                    f'[BlackRatingDiff "{-wd:+d}"]',
                ]
                if titles[white[i]] >= 0:
                    lines.append(f'[WhiteTitle "{TITLES[titles[white[i]]]}"]')
                if titles[black[i]] >= 0:
                    lines.append(f'[BlackTitle "{TITLES[titles[black[i]]]}"]')
                eco, opening = OPENINGS[op[i]]
                lines += [
                    f'[ECO "{eco}"]',
                    f'[Opening "{opening}"]',
                    f'[TimeControl "{tcs[tc[i] % len(tcs)]}"]',
                    f'[Termination "{TERMINATIONS[term[i]][0]}"]',
                    "",
                    _moves(rng, result, bool(evals[i])),
                    "",
                ]
                fh.write("\n".join(lines) + "\n")
        manifest["months"].append(
            {"year": year, "month": month, "games": n, "file": os.path.basename(path)}
        )
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest

