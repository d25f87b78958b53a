"""The benchmark's workloads. Each is a closed loop: one client runs a
pass, waits for its result, then starts the next.

A workload provides
  ``generate()``          the seeded inputs (once per run, before set-up),
  ``prepare(spark)``      the program's set-up on a fresh session,
  ``run_pass(i)``         one timed pass -> PassResult,
  ``traced_pass(i, ...)`` the same pass with a span per public layer call,
  ``check()``             outputs of the last pass against the twins.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from lichess_db_spark.io import write_parquet
from lichess_db_spark.plans.games import add_features, clean_games, games_pipeline, unpivot_roles
from lichess_db_spark.sources.pgn import parse_pgn_text
from lichess_db_spark.sources.staging import chunk_pgn_lines
from tools.driver_sim import _hash_pdf

from . import synth, twins
from .probes import SparkWindow, Tracer, dir_stats, du

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
CATALOG_TABLES = ("documents", "embeddings")
# the catalog has no oracle_sql() twin for it, so its check is rows-only
CATALOG_ENTRY = "dedup_minhash_pairs"

# per workload: the input size of a full run and of the smoke test
SIZES = {
    "batch": {"full": dict(months=4, games_per_month=8000),
              "tiny": dict(months=2, games_per_month=60)},
    "incremental": {"full": dict(months=2, games_per_month=500),
                    "tiny": dict(months=2, games_per_month=40)},
}


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


def _noop(df) -> None:
    # the repo's timing rule: never .count(); the noop sink runs the full plan
    df.write.format("noop").mode("overwrite").save()


def _with_partitions(df):
    return df.withColumn("year", F.year("DateTime")).withColumn("month", F.month("DateTime"))


def exchanges(df) -> int:
    """Exchange operators in the planned physical plan (exact count)."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return sum(1 for line in plan.splitlines() if "Exchange " in line and "Reused" not in line)


@dataclass
class PassResult:
    wall_s: float
    ops_ms: list[float]
    games: int
    out_bytes_per_game: float
    extra: dict = field(default_factory=dict)


class _PgnWorkload:
    """Seeded PGN months as input, one uncompressed stream file each."""

    name = ""

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.failures: list[str] = []

    def _fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def generate(self) -> None:
        src = self._fresh("input")
        self.manifest = synth.generate(
            self.seed, src, self.size["months"], self.size["games_per_month"]
        )
        self.months = [
            (m["year"], m["month"], m["games"], os.path.join(src, m["file"]))
            for m in self.manifest["months"]
        ]
        self.games = sum(m[2] for m in self.months)

    def prepare(self, spark) -> None:
        self.spark = spark

    def describe(self) -> dict:
        return {**self.size, "games": self.games, "players": self.manifest["players"],
                "pgn_bytes": sum(os.path.getsize(m[3]) for m in self.months)}

    def _stage(self, month, out_dir: str) -> list[str]:
        year, mon, _, path = month
        with open(path, encoding="utf-8") as fh:
            return list(chunk_pgn_lines(fh, out_dir, f"lichess_{year}-{mon:02d}"))


class Batch(_PgnWorkload):
    """One pass: stage -> parse -> clean/unpivot/features -> partitioned
    Parquet (the reference's ingest job), then the reference's 8 EDA
    analyses over the files just written, then one catalog entry over
    the committed fixture tables into the noop sink.

    Ops (for op latency) are the EDA queries and the catalog entry."""

    name = "batch"

    def generate(self) -> None:
        super().generate()
        self.sf = self._fresh("sf")
        for t in CATALOG_TABLES:
            shutil.copy(os.path.join(FIXTURES, f"{t}.parquet"), self.sf)

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry

        super().prepare(spark)
        self.query = entry.queries()[CATALOG_ENTRY]

    def run_pass(self, i: int, tracer: Tracer | None = None,
                 win: SparkWindow | None = None) -> PassResult:
        base = self._fresh(f"pass{i}")
        t0 = time.perf_counter()
        m = {} if tracer is None else self._traced_ingest(i, base, tracer, win)
        if tracer is None:
            for month in self.months:
                self._stage(month, os.path.join(base, "stage"))
            raw = parse_pgn_text(self.spark, os.path.join(base, "stage", "*.pgn"))
            write_parquet(_with_partitions(games_pipeline(raw.drop("game_id"))),
                          os.path.join(base, "out"), partition_by=["year", "month"])
        ingest_ms = _ms(t0)
        out = os.path.join(base, "out")
        ops, results = self._eda(out, tracer, win, i, m)
        ops += self._catalog(tracer, win, i, m)
        wall = time.perf_counter() - t0
        self.last = (out, results)
        return PassResult(wall, ops, self.games, dir_stats(out)[0] / self.games,
                          {"ingest_ms": ingest_ms, "layers": m})

    def _eda(self, out, tracer, win, i, m):
        from lichess_db_spark.api import LichessDB

        db = LichessDB(self.spark, out)
        ops, results = [], {}
        mark = win.mark() if tracer else None
        for q in twins.EDA_QUERIES:
            t = time.perf_counter()
            if tracer is None:
                results[q] = getattr(db, q)().collect()
            else:
                with tracer.span(f"eda.{q}", i):
                    results[q] = getattr(db, q)().collect()
                m[f"eda.{q}_ms"] = _ms(t)
            ops.append(_ms(t))
        if tracer:
            st = win.since(mark)
            m["eda.scan_bytes"], m["eda.jobs"] = st["input_bytes"], st["jobs"]
        return ops, results

    def _catalog(self, tracer, win, i, m) -> list[float]:
        n = CATALOG_ENTRY
        mark = win.mark() if tracer else None
        t = time.perf_counter()
        if tracer is None:
            _noop(self.query(self.spark, self.sf))
        else:
            with tracer.span(f"catalog.{n}", i) as attrs:
                _noop(self.query(self.spark, self.sf))
            attrs.update(win.since(mark))
            m.update({f"catalog.{n}_ms": _ms(t), f"catalog.{n}_cpu_s": attrs["cpu_s"],
                      f"catalog.{n}_wait_s": attrs["wait_s"],
                      f"catalog.{n}_shuffle_bytes": attrs["shuffle_write_bytes"],
                      f"catalog.{n}_spill_bytes": attrs["spill_bytes"]})
        ops = [_ms(t)]
        # timing rule: clearCache() plus a JVM GC after a catalog entry
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        return ops

    def _traced_ingest(self, i, base, tracer, win) -> dict:
        """Spark is lazy, so each layer span times the pipeline prefix
        that ends at that public function, forced to the noop sink; a
        layer's self time is the difference from the previous prefix."""
        stage, out = os.path.join(base, "stage"), os.path.join(base, "out")
        m: dict = {}
        took: dict = {}

        def timed(name, action):
            mark = win.mark()
            with tracer.span(name, i) as attrs:
                t = time.perf_counter()
                action()
                took[name] = time.perf_counter() - t
            attrs.update(win.since(mark))
            return attrs

        t = time.perf_counter()
        with tracer.span("staging.chunk_pgn_lines", i):
            chunks = [c for month in self.months for c in self._stage(month, stage)]
        m["staging.split_s"], m["staging.chunks"] = time.perf_counter() - t, len(chunks)
        raw = parse_pgn_text(self.spark, os.path.join(stage, "*.pgn")).drop("game_id")
        st = timed("pgn.parse_pgn_text", lambda: _noop(raw))
        m.update({"pgn.parse_s": took["pgn.parse_pgn_text"], "pgn.tasks": st["tasks"],
                  "pgn.task_skew": st["task_skew"], "pgn.cpu_s": st["cpu_s"]})
        clean = clean_games(raw)
        timed("games.clean_games", lambda: _noop(clean))
        unp = unpivot_roles(clean)
        timed("games.unpivot_roles", lambda: _noop(unp))
        feat = add_features(unp)
        st = timed("games.add_features", lambda: _noop(feat))
        timed("io.write_parquet", lambda: write_parquet(
            _with_partitions(feat), out, partition_by=["year", "month"]))
        m.update({
            "games.clean_self_s": took["games.clean_games"] - took["pgn.parse_pgn_text"],
            "games.unpivot_self_s": took["games.unpivot_roles"] - took["games.clean_games"],
            "games.features_self_s": took["games.add_features"] - took["games.unpivot_roles"],
            "games.features_shuffle_bytes": st["shuffle_write_bytes"],
            "games.features_spill_bytes": st["spill_bytes"],
            "games.features_task_skew": st["task_skew"],
            "games.exchanges": exchanges(feat),
            "io.write_self_s": took["io.write_parquet"] - took["games.add_features"],
        })
        m["io.write_bytes"], m["io.write_files"] = dir_stats(out)
        self._counts = (raw, unp)
        return m

    def traced_pass(self, i: int, tracer: Tracer, win: SparkWindow) -> dict:
        with tracer.span("pass", i):
            r = self.run_pass(i, tracer, win)
        m = r.extra["layers"]
        # counts run after the pass span closed, so they are not timed
        raw, unp = self._counts
        m["pgn.games"], m["games.unpivot_rows"] = raw.count(), unp.count()
        return m

    def check(self) -> int:
        """Rows equal 2 x games per (year, month) of the manifest; the EDA
        results equal their DuckDB twins over the same Parquet files; the
        catalog entry returns rows (it has no oracle_sql() twin, so the
        check is rows-only, as in the catalog's gate)."""
        out, results = self.last
        con = twins.eda_twin(out)
        failed = 0
        counts = twins.month_counts(con)
        want = {(y, mo): 2 * n for y, mo, n, _ in self.months}
        if counts != want:
            self.failures.append(f"per-month rows {counts} != 2 x manifest {want}")
            failed += 1
        for q in twins.EDA_QUERIES:
            if not twins.check_eda(con, q, results[q]):
                self.failures.append(f"eda {q} differs from its DuckDB twin")
                failed += 1
        con.close()
        if self.query(self.spark, self.sf).isEmpty():
            self.failures.append(f"{CATALOG_ENTRY}: rows-only check returned no rows")
            failed += 1
        self.spark.catalog.clearCache()
        return failed


class Incremental(_PgnWorkload):
    """Months land one at a time; each runs stream_games_ingest with
    availableNow, from an empty output and checkpoint at pass start. The
    next month lands only after the previous run commits. An op is one
    month, from landing (staging its chunk files) to commit."""

    name = "incremental"

    def run_pass(self, i: int, tracer: Tracer | None = None,
                 win: SparkWindow | None = None) -> PassResult:
        from lichess_db_spark.streaming.ingest import stream_games_ingest

        base = self._fresh(f"pass{i}")
        land, out, ck = (os.path.join(base, d) for d in ("land", "out", "ck"))
        ops, months = [], []
        t0 = time.perf_counter()
        for k, month in enumerate(self.months):
            mark = win.mark() if tracer else None
            t = time.perf_counter()
            with tracer.span(f"stream.month{k}", i) if tracer else nullcontext({}) as attrs:
                self._stage(month, land)
                q = stream_games_ingest(self.spark, os.path.join(land, "*.pgn"), out, ck)
                q.awaitTermination()
            ops.append(_ms(t))
            if tracer:
                lp = q.lastProgress or {}
                d = lp.get("durationMs", {})
                attrs.update(win.since(mark))
                attrs.update({
                    "month_s": ops[-1] / 1e3,
                    "add_batch_ms": d.get("addBatch", 0),
                    "latest_offset_ms": d.get("latestOffset", 0),
                    "planning_ms": d.get("queryPlanning", 0),
                    "source_rows_per_game": lp.get("numInputRows", 0) / month[2],
                })
                months.append(attrs)
        wall = time.perf_counter() - t0
        self.last = (land, out, ck)
        return PassResult(wall, ops, self.games,
                          dir_stats(out, skip_prefix=("_",))[0] / self.games,
                          {"layers": months})

    def traced_pass(self, i: int, tracer: Tracer, win: SparkWindow) -> dict:
        with tracer.span("pass", i):
            months = self.run_pass(i, tracer, win).extra["layers"]
        m = {f"stream.{k}": statistics.median(mo[k] for mo in months)
             for k in ("month_s", "add_batch_ms", "latest_offset_ms", "planning_ms")}
        per_game = [mo["source_rows_per_game"] for mo in months]
        m["stream.source_rows_per_game"] = statistics.mean(per_game)
        m["stream.source_rows_per_game_by_month"] = per_game
        _, out, ck = self.last
        versions = sorted(glob.glob(os.path.join(out, "_feature_state", "v*")),
                          key=lambda p: int(os.path.basename(p)[1:]))
        m["stream.state_rows"] = self.spark.read.parquet(versions[-1]).count()
        m["stream.state_bytes"] = du(versions[-1])
        m["stream.checkpoint_bytes"] = du(ck)
        return m

    def check(self) -> int:
        """The streamed table equals the batch games_pipeline over all
        months, compared as an order-insensitive canonical hash."""
        land, out, _ = self.last
        got = self.spark.read.parquet(out)
        twin = _with_partitions(
            games_pipeline(parse_pgn_text(self.spark, os.path.join(land, "*.pgn")).drop("game_id"))
        )
        cols = sorted(twin.columns)
        if sorted(got.columns) != cols:
            self.failures.append(f"streamed columns {sorted(got.columns)} != batch {cols}")
            return 1
        a = _hash_pdf(got.select(cols).toPandas())
        b = _hash_pdf(twin.select(cols).toPandas())
        if a != b or a[0] != 2 * self.games:
            self.failures.append(f"streamed table rows {a[0]} hash {a[2]} != batch twin "
                                 f"rows {b[0]} hash {b[2]}")
            return 1
        return 0


WORKLOADS = {w.name: w for w in (Batch, Incremental)}
