"""Spark 4 Python DataSource for PGN files (SURVEY.md §2.1 S1/S2
optional upgrade): ``spark.read.format("pgn").load("dir/*.pgn")``.

A batch-only reader. One partition per staged chunk file (chunks are
cut at game boundaries by sources.staging, so files parse
independently); each partition streams its file through the
imperative line state machine (parse_pgn_partitions). It is the
Python twin of the JVM parse ``sources.pgn.parse_pgn_text``: the
engine sees a real scan node with a schema, and tests read the same
chunks both ways. The streaming ingest does not use it; it reads the
``binaryFile`` file source and parses in the JVM
(``streaming.ingest.stream_games_ingest``).

Register once per session:
    from lichess_db_spark.sources.pgn_datasource import register_pgn_source
    register_pgn_source(spark)
"""

from __future__ import annotations

import glob as _glob
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from .pgn import HEADER_FIELDS, RAW_GAME_SCHEMA, parse_pgn_partitions


@dataclass
class _FilePartition(InputPartition):
    path: str


class PgnDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgn source requires a path")

    def partitions(self):  # noqa: D102
        paths = sorted(_glob.glob(self.path)) or [self.path]
        return [_FilePartition(p) for p in paths]

    def read(self, partition: _FilePartition):  # noqa: D102
        cols = [*HEADER_FIELDS, "Moves"]
        with open(partition.path, encoding="utf-8") as fh:
            for game in parse_pgn_partitions(fh):
                yield tuple(game.get(c) for c in cols)


class PgnDataSource(DataSource):
    """`format("pgn")`: one row per game, schema = raw header strings
    + Moves (cleaning/typing happens in plans.games, same as every
    other path). Batch `read` only."""

    @classmethod
    def name(cls) -> str:
        return "pgn"

    def schema(self) -> StructType:
        return RAW_GAME_SCHEMA

    def reader(self, schema: StructType) -> PgnDataSourceReader:
        return PgnDataSourceReader(schema, self.options)


def register_pgn_source(spark) -> None:
    spark.dataSource.register(PgnDataSource)
