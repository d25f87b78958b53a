"""Aggregation operators (SURVEY.md §2.4 A1-A5).

Spark's hash aggregate already does partial (map-side) + final
aggregation with spill, so each helper is a thin declarative wrapper;
the interesting piece is A4's grand-total proportion, where the
scalar total must be broadcast back into every group row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_count(df: DataFrame, *keys: str, alias: str = "count") -> DataFrame:
    """A3: hash group-by + count (eda.ipynb cells 6,7,8,10,11,12)."""
    return df.groupBy(*keys).agg(F.count("*").alias(alias))


def with_proportion(
    df: DataFrame, count_col: str = "count", alias: str = "proportion"
) -> DataFrame:
    """A4: count / sum(count) over the whole frame (eda.ipynb:cell6-7).

    Uses an empty-partition window: Spark plans this as a single-
    partition exchange of the *aggregated* rows (small), not of the
    input — at 100 TB the grand total rides on K group rows only.
    Unrounded: the raw IEEE division is engine-portable; round()
    modes at decimal boundaries are not.
    """
    total = F.sum(count_col).over(Window.partitionBy())
    return df.withColumn(alias, F.col(count_col) / total)


def decimal_sum(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """Order-independent sum of a double column via DECIMAL(30,scale).

    Floating sums are accumulation-order-dependent, so two engines
    (or two partitionings of the same engine) can disagree in the
    last ulps; money-style columns are exactly representable at 2-4
    decimals, so casting each value to decimal first makes the sum
    exact, associative, and bit-identical — the property the DuckDB
    oracle comparison relies on.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(30,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def scaled_int_sum(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """Bit-identical drop-in for :func:`decimal_sum` with a BIGINT
    accumulator — measured 1.5x on TPC-H Q1 at sf0.1 (the decimal
    sum's checked 128-bit adds dominate that query).

    The per-row rounding is the same HALF_UP at ``scale`` the decimal
    path (and the DuckDB oracle) computes — identical for every value
    inside decimal(19,scale)'s range (see the caller contract below) —
    then shifted into an exact int64; only the
    *accumulator* changes (plain codegen long adds). The final sum is
    rebuilt as decimal/10^scale and cast to double, so the exact
    rational is identical and therefore so is the output double.

    Caller contract (why this is not the default). Two bounds:

    * per VALUE: |x| must fit decimal(19,scale), i.e. < 10^(19-scale)
      (and |x|*10^scale < 2^63);
    * per GROUP: the int64 accumulator bounds |sum| * 10^scale
      < 9.2e18. For money-style columns (~1e5 magnitude) that holds
      to ~1e9 rows per group at scale 4 and ~4e7 at scale 6 — fine
      for grouped reports through ~SF100, NOT for a 100 TB
      single-group total at scale 6.

    Under Spark 4's default ANSI mode (this repo's sessions — see
    session.py probe in tests) violating either bound FAILS LOUD
    (ArithmeticException / CAST_OVERFLOW, test-pinned), never a wrong
    answer. On a legacy non-ANSI cluster the same violations degrade
    silently (out-of-range casts NULL out and ``sum`` skips the row;
    the long accumulator wraps) — one more reason the bounds are the
    caller's contract. When either bound is in doubt, use decimal_sum
    (same protocol as stats_moments_exact's documented
    int64->DECIMAL(38,0) escalation).
    """
    out = (
        F.sum(scaled_int_term(col, scale)).cast("decimal(38,0)") / (10**scale)
    ).cast("double")
    return out.alias(alias) if alias else out


def scaled_int_term(col: Column | str, scale: int = 4) -> Column:
    """The int64 term :func:`scaled_int_sum` accumulates: HALF_UP
    round to ``scale`` decimals (identical to the decimal path and the
    DuckDB oracle), shifted into an exact integer. Exposed for callers
    that aggregate the term themselves (e.g. the two-level shape in
    :func:`two_level_scaled_agg`, or an exact bigint threshold
    compare as in q18)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast(f"decimal(19,{scale})") * (10**scale)).cast("bigint")


def two_level_scaled_agg(
    df: DataFrame,
    keys: list[str],
    sums: list[tuple[Column | str, int, str]],
    count_alias: str | None = None,
) -> DataFrame:
    """Grouped money sums with int64-speed accumulation and NO
    per-group row bound — the unbounded-scale companion to
    :func:`scaled_int_sum`.

    :func:`scaled_int_sum`'s caller contract caps |sum|*10^scale at
    2^63 per group, which a low-cardinality grouping (TPC-H Q1: 4
    groups) blows past around SF60 at scale 6. This helper removes the
    bound by splitting the aggregation: level 1 groups by
    ``keys + spark_partition_id()``, so each int64 accumulator only
    ever spans ONE input partition's rows (``maxPartitionBytes`` caps
    that at ~1e6-1e7 rows -> |partial| < ~1e18 even for scale-6 terms
    — 9x inside int64, and ANSI mode still fails loud if an exotic
    config exceeds it); level 2 merges the tiny
    (groups x input-partitions) partial relation with exact
    DECIMAL(38,0) adds. This is hand-rolled partial/final aggregation
    with a CHEAPER partial dtype than Spark's single-dtype hash agg
    can express.

    Cost: one extra exchange of the partial relation — at most
    #groups x #map-partitions rows, i.e. the same row count the
    standard partial/final wire already carries; AQE coalesces it.
    Measured on Q1 at sf0.1 (local[32], median of 5): decimal 1.64s,
    single-level scaled-int 0.955s (overflow-bounded), this shape
    1.074s — 1.5x over decimal with no scale ceiling.

    ``sums`` rows are ``(column_or_name, scale, alias)``; each output
    alias is the exact sum as double (bit-identical to
    ``decimal_sum``, same final rational -> same IEEE double).
    ``count_alias`` adds a COUNT(*) carried through both levels.
    """
    pid = F.spark_partition_id().alias("__pid")
    partials = [F.sum(scaled_int_term(c, s)).alias(f"__p_{a}") for c, s, a in sums]
    if count_alias:
        partials.append(F.count("*").alias("__p_n"))
    lvl1 = df.groupBy(*keys, pid).agg(*partials)
    finals: list[Column] = [
        (F.sum(F.col(f"__p_{a}").cast("decimal(38,0)")) / (10**s))
        .cast("double")
        .alias(a)
        for _, s, a in sums
    ]
    if count_alias:
        finals.append(F.sum("__p_n").cast("bigint").alias(count_alias))
    return lvl1.groupBy(*keys).agg(*finals)


def profile_table(df: DataFrame) -> DataFrame:
    """One-pass column profile: row count, nulls and exact distinct
    counts per column, unpivoted to one row per column.

    The single ``agg`` computes every statistic in one pass over the
    data; multiple exact COUNT(DISTINCT)s make Catalyst plan an Expand
    (one duplicated stream per distinct column), which is the right
    trade at dims/EDA scale. For a 100 TB fact-table profile swap the
    exact distincts for ``approx_count_distinct`` — same shape, no
    Expand blow-up; the exact version stays because it is what the
    DuckDB oracle can replay.
    """
    aggs = [F.count("*").alias("n_rows")]
    for c in df.columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __null_{c}, __nd_{c}" for c in df.columns
    )
    return row.select(
        F.expr(
            f"stack({len(df.columns)}, {stack_args}) AS (col_name, n_null, n_distinct)"
        ),
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct")


def kmv_sketch(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    k: int = 64,
) -> "DataFrame":
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the
    Theta-sketch family's simplest member) per group: the ``k``
    smallest md5-derived 32-bit hashes of the group's distinct value
    set, summarized as ``(group, n_hashes, kth_hash, kmv_estimate)``
    with estimate (k-1) * 2^32 / h_(k) — exact (= n_hashes) when the
    group holds fewer than k distinct hashes.

    Why this sketch when HLL exists: Spark's approx_count_distinct
    uses engine-internal hashing, so its estimates can never be
    oracle-compared across engines (the repo's HLL rows are rows-only
    by design). KMV over md5 is a DETERMINISTIC pure function of the
    value set — portable, hash-checkable, and self-evaluating when
    the exact count rides along. Standard error ~1/sqrt(k-2) (~13%
    at k=64).

    Mergeability (what makes it MV-grade at 100 TB): the min-k of a
    union is the min-k of the concatenated per-partition min-k's —
    so partial sketches combine associatively; property-tested in
    tests/test_winnow_snm.py. Plan shape: one distinct-hash
    aggregation, then a per-group rank window that Spark 4 runs
    through WindowGroupLimit (partial top-k BEFORE the exchange), so
    only k rows per group cross the wire after the map-side prune.
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"need k >= 2: {k}")
    # NULL values are excluded EXPLICITLY: md5(NULL) is NULL, and a
    # NULL hv would rank NULLS-FIRST in Spark but NULLS-LAST in DuckDB
    # — the kth hash would silently diverge on any corpus with NULL
    # keys (latent on the committed fixtures, which have none)
    h = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col),
            F.conv(
                F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
            )
            .cast("bigint")
            .alias("hv"),
        )
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("hv")
    r = h.select(
        group_col,
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy(group_col)).alias("nh"),
    ).where(F.col("rn") <= k)
    sk = r.groupBy(group_col).agg(
        F.max("nh").cast("bigint").alias("n_hashes"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).cast("bigint").alias("kth_hash"),
    )
    return sk.select(
        group_col,
        "n_hashes",
        "kth_hash",
        F.when(
            F.col("n_hashes") >= k,
            F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("kth_hash"),
        )
        .otherwise(F.col("n_hashes").cast("double"))
        .alias("kmv_estimate"),
    )
