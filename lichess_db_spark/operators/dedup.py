"""Deduplication operators (north-star, SURVEY.md §2.10).

Four tiers, all shuffle-conscious:

- exact:        one hash-groupBy on a content digest. The digest
                (md5 here for oracle portability; xxhash64 for speed)
                means the shuffle moves 16-byte keys, not documents.
- minhash LSH:  shingle -> K minhash perms -> band -> bucket-join.
                Candidate generation is a groupBy on (band, hash) —
                at 100 TB this is the only near-dup approach whose
                shuffle volume is O(docs * bands), not O(docs^2).
- simhash:      64-bit signature; near-dups share the signature (or
                a rotated prefix) — cheapest, coarsest.
- exact jaccard: shingle-inverted-index self-join — the quadratic
                verifier; only ever run on LSH candidates at scale
                (standalone variant exists for oracle checking).

All signatures are computed with array expressions (transform /
array_min / xxhash64) inside codegen — no UDF, no per-perm shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles
from ._util import spread


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep min-id per content digest, count copies."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """dropDuplicates on content — returns the deduplicated frame."""
    return df.dropDuplicates([text_col])


_MERSENNE_P = 2**31 - 1
_perm_cache: dict[int, tuple] = {}


def _perm_coeffs(spark, num_perms: int):
    """Affine-permutation coefficients (a_i, b_i), derived from
    xxhash64 of the permutation index exactly as the original
    expression form did (`pmod(xxhash64(i), p-1)+1`,
    `pmod(xxhash64(i, i), p)` over int32 i) — computed by one tiny
    Spark job so signatures stay bit-identical across the expression
    and vectorized implementations, then cached per process."""
    import numpy as np

    if num_perms not in _perm_cache:
        rows = (
            spark.range(num_perms)
            .select(F.col("id").cast("int").alias("i"))
            .select(
                (F.pmod(F.xxhash64("i"), F.lit(_MERSENNE_P - 1)) + 1).alias("a"),
                F.pmod(F.xxhash64("i", "i"), F.lit(_MERSENNE_P)).alias("b"),
            )
            .collect()
        )
        _perm_cache[num_perms] = (
            np.array([r.a for r in rows], dtype=np.int64)[None, :],
            np.array([r.b for r in rows], dtype=np.int64)[None, :],
        )
    return _perm_cache[num_perms]


def _portable_perm_coeffs(num_perms: int):
    """Arithmetic (hash-free) affine-permutation coefficients for the
    portable variant: derivable in ANSI SQL by any engine, so a DuckDB
    oracle can reproduce signatures bit-for-bit. Knuth multiplicative
    + LCG constants; quality is irrelevant here (any fixed family of
    distinct affine maps gives valid minhash estimates)."""
    import numpy as np

    i = np.arange(num_perms, dtype=np.int64)
    a = (i * 2654435761) % (_MERSENNE_P - 1) + 1
    b = (i * 1013904223 + 12345) % _MERSENNE_P
    return a[None, :], b[None, :]


def _minhash_sig(sh: "F.Column", num_perms: int, portable: bool = False) -> "F.Column":
    """num_perms minhash values from a shingle array column.

    Each shingle is string-hashed ONCE, JVM-side (xxhash64 -> 31-bit
    base); permutation i is the affine map (a_i*h + b_i) mod p over
    the Mersenne prime p=2^31-1 (products stay < 2^62: no int64
    overflow). The 128-perm min-reduction runs as a vectorized Arrow
    UDF: Spark's higher-order lambdas (transform/array_min) are
    interpreted per element, and at num_perms * |shingles| evals per
    doc that interpreter was the pipeline bottleneck (measured 7.4s
    -> <1s for 5k docs x 54 shingles x 128 perms at sf0.1). numpy
    does the same affine mins at memory bandwidth.

    ``portable=True`` swaps the base hash to the first 8 hex digits of
    md5 and the coefficients to arithmetic derivations — both exactly
    reproducible in DuckDB SQL, making the WHOLE pipeline (signatures
    included) hash-checkable against an oracle. xxhash64 stays the
    production default (one JVM hash vs md5 + hex parse per shingle).
    """
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    if portable:
        A, B = _portable_perm_coeffs(num_perms)
    else:
        A, B = _perm_coeffs(SparkSession.getActiveSession(), num_perms)

    @pandas_udf("array<bigint>")
    def _sig_udf(base: pd.Series) -> pd.Series:
        # Affine maps + segment-min over the WHOLE Arrow batch, in
        # doc-aligned CHUNKS through one REUSED buffer: Spark's
        # higher-order lambdas would interpret num_perms * |shingles|
        # evals per doc (measured 7.4s -> <1s for 5k docs at sf0.1),
        # and the obvious whole-batch (|elems| x perms) temporary —
        # ~0.5 GB at a 10k-doc batch — turned out to collapse under
        # CONCURRENCY: 32 workers each page-faulting fresh GB-scale
        # allocations serialize on kernel page zeroing (measured on
        # this host: the identical 500k x 128 matmul is 0.8s in one
        # process and 165s when 32 run at once; with a reused 64MB
        # chunk buffer the worst concurrent case is 3s — see
        # tools/bench_scale.py, 64x corpus). Chunks end on doc
        # boundaries so minimum.reduceat never straddles; arithmetic
        # per element is unchanged -> signatures bit-identical.
        lens = np.fromiter(
            (0 if h is None else len(h) for h in base), dtype=np.int64, count=len(base)
        )
        nonempty = [h for h in base if h is not None and len(h) > 0]
        if not nonempty:
            return pd.Series([None] * len(base), dtype=object)
        flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in nonempty])
        pos = lens[lens > 0]
        ends = np.cumsum(pos)
        starts = ends - pos
        n_docs = len(pos)
        CH = 65536  # elements per chunk (soft cap; one oversize doc ok)
        buf = None
        mins_parts = []
        i = 0
        while i < n_docs:
            j = int(np.searchsorted(ends, starts[i] + CH, side="right"))
            j = min(max(j, i + 1), n_docs)
            lo, hi = int(starts[i]), int(ends[j - 1])
            seg = flat[lo:hi]
            if buf is None or buf.shape[0] < len(seg):
                # A/B are (1, num_perms) row vectors (broadcast shape)
                buf = np.empty((max(len(seg), CH), A.shape[-1]), dtype=np.int64)
            b = buf[: len(seg)]
            np.multiply(seg[:, None], A, out=b)
            np.add(b, B, out=b)
            np.mod(b, _MERSENNE_P, out=b)
            mins_parts.append(
                np.minimum.reduceat(b, starts[i:j] - lo, axis=0)
            )
            i = j
        mins = (
            np.concatenate(mins_parts) if len(mins_parts) > 1 else mins_parts[0]
        )
        out, j = [], 0
        for n in lens:
            if n == 0:
                out.append(None)
            else:
                out.append(mins[j])
                j += 1
        return pd.Series(out, dtype=object)

    if portable:
        base = F.transform(
            sh,
            lambda s: F.pmod(
                F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
                F.lit(_MERSENNE_P),
            ),
        )
    else:
        base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)))
    return _sig_udf(base)


def _shingled(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle-array) for every *eligible* doc, spread across cores.

    Eligibility (>= n words) is tested on the raw text — cheap
    size(split()) that pushes to the scan — NEVER on the shingle array
    or anything downstream of it: a predicate on a derived column gets
    pushed below the repartition and re-evaluates the whole derivation
    pre-exchange (with the minhash UDF that meant computing every
    signature twice). The id null-filter is applied here so every
    consumer branch has an identical exchange child and AQE stage
    reuse can kick in (a join downstream would otherwise push its own
    isnotnull into only *its* branch, breaking canonical equality).
    """
    eligible = df.where(
        F.col(id_col).isNotNull()
        & (F.size(F.split(F.col(text_col), " ")) >= shingle_n)
    )
    # materialize shingles behind an exchange: without the barrier,
    # CollapseProject inlines the shingle build into downstream
    # lambdas/filters; the round-robin exchange also spreads this
    # compute-bound stage across cores.
    return spread(
        eligible.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("_sh"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 128,
    shingle_n: int = 5,
) -> DataFrame:
    """doc -> array<bigint> of ``num_perms`` minhash values.

    Docs with fewer than ``shingle_n`` words have no shingles and can
    never be near-dup candidates — they are excluded (keeps the
    signature column non-null everywhere downstream, so the banding
    stage needs no UDF-referencing filter).
    """
    return _shingled(df, text_col, id_col, shingle_n).select(
        F.col(id_col), _minhash_sig(F.col("_sh"), num_perms).alias("signature")
    )


DEFAULT_MAX_BUCKET_SIZE = 256


def _precap_hot_keys(
    banded: DataFrame,
    key_cols: tuple[str, ...],
    max_bucket_size: int | None,
    observation,
    mode: str = "broadcast",
) -> DataFrame:
    """Count-first hot-key pre-cap shared by the batch pairing tiers
    (MinHash bands and Hamming bit-slices): over-cap keys are found by
    a per-key COUNT and their rows are dropped BEFORE any per-bucket
    ``collect_list``/``collect_set`` — so a corpus with D
    near-identical members never materializes a D-element aggregation
    buffer on one reducer (collect buffers are single unspillable
    values; the r9 shape filtered AFTER the hot bucket was built,
    which the scale suite measured at alpha 1.28 / 108 s on the 64x
    adversarially-duplicated corpus). WHERE the drop happens depends
    on ``mode`` below: map-side before the exchange (broadcast), on
    the reducer before the collect (repartition), or via a spillable
    window filter (window) — every mode bounds reducer memory, they
    differ in what the count pass costs.

    Requires the banded relation to hold at most one row per (id, key)
    — both callers construct keys by posexplode over per-doc bands, so
    the row count per key equals the bucket's member count (and
    matches the portable oracles' ``COUNT(*) <= cap`` semantics
    exactly).

    ``observation``: metrics ride a DEDICATED eager aggregate job over
    the key counts (same rationale as the incremental posting core —
    a CollectMetrics node in the anti-join's build subtree is pruned
    when AQE propagates the usually-empty hot relation, and the hot
    side being empty is the COMMON case). Passing an observation
    therefore triggers one small Spark job at build time.

    ``mode`` picks the plan shape by what the SECOND read of
    ``banded`` costs (r10 bisect: the broadcast shape put +48% on
    dedup_minhash_pairs because its signature kernel is expensive and
    unpersisted):

    - ``"broadcast"``: the count pass re-reads ``banded``'s lineage
      (partial aggregation keeps its shuffle tiny) and the over-cap
      keys broadcast into a map-side anti-join, so hot rows are
      dropped BEFORE any exchange — strictly best when the signature
      relation is persisted or cheap to recompute (the pHash catalog
      entries persist theirs via slots; the contract is documented
      there).
    - ``"repartition"``: ``banded`` is hash-repartitioned on the keys
      ONCE; the key-count aggregate, the broadcast anti-join and the
      per-bucket collect all sit on that single exchange, so the
      signature kernel runs once with no persist needed. The hot
      key's rows do cross the wire to one reducer, but they are
      dropped before the collect aggregate — never an unspillable
      D-element aggregation buffer.
    - ``"window"``: single scan, single exchange, no join at all — a
      per-key COUNT window over the exchanged relation, then a
      ``<= cap`` filter ahead of the collect. The hot key's rows
      buffer in WindowExec's spillable per-group array (disk-bounded
      straggler, not an OOM). Measured cheapest of the single-scan
      shapes (isolated sf0.1 bisect on dedup_minhash_pairs: r9
      post-collect filter 1.86 s / window 2.30 s / repartition 2.40 s
      / broadcast-with-recompute 2.75 s) — the MinHash tier's
      default.

    Every mode keeps identical semantics (keys with row count > cap
    are excluded before pairing)."""
    if mode not in ("broadcast", "repartition", "window"):
        raise ValueError(f"unknown precap mode {mode!r}")
    if max_bucket_size is None and observation is None:
        return banded
    if observation is not None:
        key_counts = banded.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("__n")
        )
        over = (
            F.col("__n") > max_bucket_size
            if max_bucket_size is not None
            else F.lit(False)
        )
        key_counts.observe(
            observation,
            F.count(F.when(over, 1)).alias("capped_buckets"),
            F.max("__n").alias("max_bucket_size_seen"),
        ).count()
    if max_bucket_size is None:
        return banded
    if mode == "window":
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols)
        return (
            banded.withColumn("__n", F.count(F.lit(1)).over(w))
            .where(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
    if mode == "repartition":
        part = banded.repartition(*key_cols)
        hot = (
            part.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket_size)
            .select(*key_cols)
        )
        # broadcast the (tiny) hot set: the anti-join then reads the
        # shared exchange map-side with NO SMJ sorts, and the collect
        # aggregate's distribution is already satisfied — one exchange
        # total, signature kernel runs once
        return part.join(F.broadcast(hot), list(key_cols), "left_anti")
    key_counts = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
    hot = key_counts.where(F.col("__n") > max_bucket_size).select(*key_cols)
    return banded.join(F.broadcast(hot), list(key_cols), "left_anti")


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 32,
    rows_per_band: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
    precap_mode: str = "window",
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_hash).

    Banding: docs agreeing on all ``rows_per_band`` minhashes of any
    band become candidates (S-curve threshold ~ (1/b)^(1/r) ≈ 0.42
    for b=32, r=4). The join is a groupBy + collect of doc ids per
    bucket, then in-bucket pairing — shuffle key is the 8-byte band
    hash.

    ``max_bucket_size`` (default 256 — pass ``None`` to disable) drops
    buckets bigger than the cap BEFORE pairing: a web-scale hot bucket
    (boilerplate, empty-ish docs) is a low-information d² pair bomb —
    one 1M-doc bucket alone would emit 5e11 pairs. The cap is applied
    by a count-first pre-pass (see :func:`_precap_hot_keys`): over-cap
    keys are found by a map-combinable count and their rows are
    broadcast-anti-joined out before the per-bucket collect, so the
    hot bucket's members never co-locate on a reducer (r10 fix — the
    previous shape collected the D-element bucket and THEN dropped it,
    which the r9 scale suite measured as a 108 s / alpha-1.28 cell on
    the 64x-duplicated corpus). Members of a capped bucket can still
    pair through their other ``bands-1`` buckets; **run
    exact_dedup_groups first** — a corpus of literal exact duplicates
    floods every band bucket and the cap then silently drops those
    pairs (by design; exact dups are the cheaper tier's job).

    ``observation`` (a ``pyspark.sql.Observation``): the cap is a
    silent-recall hazard, so pass an Observation to make it
    observable — ``observation.get`` reports ``capped_buckets``
    (buckets dropped by the cap) and ``max_bucket_size_seen``. The
    metrics run as one dedicated key-count job at build time (an
    observed node in the anti-join's build subtree is pruned when AQE
    propagates the usually-empty hot relation — the same trap the
    incremental core documents).
    """
    # sigs carry no nulls (minhash_signatures drops shingle-less docs);
    # filtering on the signature here would push the predicate below
    # the exchange and re-run the signature UDF — see _shingled.
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band).cast(
                        "array<string>"
                    ).cast("string")
                ),
            )
        ).alias("band_idx", "band_hash"),
    )
    banded = _precap_hot_keys(
        banded,
        ("band_idx", "band_hash"),
        max_bucket_size,
        observation,
        # window mode: the signature kernel is the expensive part of
        # this plan and sigs are typically unpersisted here, so the
        # single-scan shapes win. Isolated sf0.1 median-of-5 bisect
        # (r10): r9 post-collect filter 1.86 s (unsafe buffer),
        # window 2.30 s, repartition+broadcast-anti 2.40 s,
        # broadcast count-pass 2.75 s (sig kernel recomputed) —
        # window buys the bounded-memory guarantee for ~0.4 s here;
        # callers that persist their signature relation should pass
        # precap_mode="broadcast" for the map-side drop instead.
        mode=precap_mode,
    )
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.sort_array(F.collect_set(id_col)).alias("ids")
    )
    # verified sf0.1 buckets max out at 4, so the default cap of 256
    # never binds on the test corpora — it exists for the adversarial
    # hot bucket, whose members the pre-pass already dropped.
    pairs = (
        buckets.where(F.size("ids") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size("ids") - 2),
                        lambda i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda j: F.struct(
                                F.element_at(F.col("ids"), i + 1).alias("doc_a"),
                                j.alias("doc_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return pairs


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 128,
    shingle_n: int = 5,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    portable: bool = False,
    observation=None,
    precap_mode: str = "window",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates verified by
    exact shingle-set Jaccard (join back to shingle sets; the
    verification join touches only candidate pairs).

    ``observation``: forwarded to minhash_lsh_candidates — surfaces
    capped-bucket counts after the first action (silent-recall guard).

    Both the signature branch and the verification branch consume the
    *same* shingled+exchanged subplan, so Spark's ReuseExchange
    computes shingles once instead of re-scanning the corpus.

    ``portable=True``: md5-derived signatures reproducible in DuckDB
    SQL (see _minhash_sig) — the hash-checked oracle twin; band
    bucketing itself needs no portability (pairs emerge from signature
    equality, which is engine-independent once signatures match)."""
    rows_per_band = num_perms // bands
    shingled = _shingled(df, text_col, id_col, shingle_n)
    sigs = shingled.select(
        F.col(id_col),
        _minhash_sig(F.col("_sh"), num_perms, portable=portable).alias("signature"),
    )
    cands = minhash_lsh_candidates(
        sigs, id_col, bands, rows_per_band,
        max_bucket_size=max_bucket_size, observation=observation,
        precap_mode=precap_mode,
    )
    sets_df = shingled.select(F.col(id_col), F.array_distinct("_sh").alias("sh"))
    a = sets_df.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.5,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via inverted-index self-join.

    Oracle-checkable (pure relational; no engine-specific hashing).
    The shingle inverted index joins doc pairs that share >=1
    shingle, then Jaccard = inter / (|A| + |B| - inter). Quadratic
    in the worst case — at 100 TB use minhash_dedup_pairs and keep
    this as the verifier on candidates only.

    ``max_shingle_doc_freq`` caps the inverted-index posting lists: a
    shingle present in more than that many docs (site boilerplate,
    license headers) is dropped from the *join* side before pairing —
    the standard web-scale mitigation for the d^2 blowup on hot
    shingles. Pair Jaccards are then computed over the capped shingle
    universe (a documented approximation; |A|,|B| use the same capped
    sets so the estimate stays consistent).
    """
    # r15 (guide §2.5, the r14 spread class): the shingle fold +
    # array_distinct + explode is per-token compute that inherited the
    # small single-file scan's skewed splits; spread() the doc rows
    # first. Aggregations/joins downstream are partition-order-free.
    # Stash-paired drifter pairs (two each direction): capped entry
    # 1.32->1.06 / 1.53->1.23, uncapped 2.06->1.04, and the consumers
    # that embed this operator as their truth side follow
    # (lsh_candidate_recall 2.81->2.43, blocking_recall 4.00->3.76).
    sh = spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("shingle"),
    )
    if max_shingle_doc_freq is not None:
        # posting-list length as a WINDOW count over the shingle
        # partitioning, not an aggregate + equi-join back: the window's
        # hash exchange on `shingle` is exactly the distribution the
        # pairing self-join below needs, so Catalyst reuses ONE
        # explode+exchange for the whole query instead of re-scanning
        # and re-exploding the corpus per consumer (measured: 8 scans /
        # 14 exchanges -> shared subplan).
        from pyspark.sql import Window

        sh = (
            sh.withColumn(
                "_df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .where(F.col("_df") <= max_shingle_doc_freq)
            .drop("_df")
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # no rounding: ratios of small ints land on .xxxx5 decimal
    # boundaries where engines' round() disagree; the raw IEEE
    # division is bit-identical across engines instead.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    strict: bool = False,
) -> DataFrame:
    """Near-dup pairs -> canonical cluster ids (min reachable id).

    Iterative min-label propagation over the undirected pair graph:
    each round joins labels across edges and keeps the per-node min;
    converges in O(graph diameter) rounds (near-dup clusters are
    shallow — a handful of rounds in practice). Each round is one
    shuffle join + one groupBy; the driver only checks a convergence
    count. This is the step that turns pairwise dedup output into the
    keep-one-per-cluster decision a 100 TB pipeline actually applies.

    ``strict=True`` raises RuntimeError when the fixpoint is not
    reached within ``max_iter`` rounds instead of returning the
    partially-propagated labels (r9: silent non-convergence would
    mislabel components on an unexpectedly deep graph; the default
    stays lenient so existing callers' plans are unchanged).

    Lineage is CUT with an eager ``localCheckpoint`` every 5 rounds
    (r9): each round's plan embeds the previous round's TWICE (the
    union side and the join side), so the logical tree grows
    exponentially with rounds — a diameter-12 graph OOMed the driver
    in ``generateTreeString`` before any task ran. Near-dup graphs
    converge in 2-4 rounds and never hit the cut, so the catalog
    dependents' plans are byte-identical; only deep graphs pay the
    checkpoint. For extreme diameters switch to a log-diameter
    star-contraction variant.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().cache()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    converged = False
    # r14 optimization (guide §2.4): the fixpoint test used to be a
    # per-round equi-join of new vs old labels plus a count() — one
    # extra shuffle join per round whose only output is a boolean.
    # Min-label propagation is MONOTONE: new = min(old ∪ neighbor
    # labels) per node over a FIXED node set, so every label is
    # non-increasing and the exact decimal sum of labels strictly
    # decreases until (and only until) the fixpoint. Comparing the
    # sum across rounds is therefore equivalent to the join-based
    # per-node comparison, with one aggregate scan of the new labels
    # (which doubles as the cache materializer) instead of a join.
    # decimal(38,0) keeps the sum exact far beyond any realistic
    # (rows x max id) product; None handles the empty-graph case.
    #
    # ADVICE r14 guard: the sum probe is equivalent ONLY for integral
    # ids. Non-numeric string ids crash the decimal cast under ANSI,
    # numeric-STRING ids propagate in lexicographic order ('10' < '9')
    # so per-node numeric deltas can cancel and false-converge the
    # sum, and float ids lose sub-unit label changes to decimal(38,0)
    # rounding. Every catalog caller passes int64 doc ids (sum probe);
    # any other id type takes the r13 join-based changed-count, which
    # only needs equality on an orderable type.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    _sum_probe = isinstance(
        labels.schema["cluster_id"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    prev_sum = None
    for _i in range(max_iter):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), F.col("cluster_id"))
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .cache()
        )
        if _sum_probe:
            new_sum = new_labels.agg(
                F.sum(F.col("cluster_id").cast("decimal(38,0)"))
            ).collect()[0][0]
            stable = new_sum == prev_sum
            prev_sum = new_sum
        else:
            # one row per node whose label changed this round; the
            # count is bounded by the node count and only the
            # emptiness is read
            stable = (
                new_labels.withColumnRenamed("cluster_id", "__new")
                .join(labels, "node")
                .where(F.col("__new") != F.col("cluster_id"))
                .limit(1)
                .count()
                == 0
            )
        labels.unpersist()
        labels = new_labels
        if stable:
            converged = True
            break
        if (_i + 1) % 5 == 0:
            labels = labels.localCheckpoint(eager=True)
    if strict and not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds — raise max_iter (or use a log-diameter "
            f"star-contraction variant) for deep graphs"
        )
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens.

    For each bit position, sum +1/-1 votes from each token's
    xxhash64 bit; the signature bit is the vote sign. Near-dup docs
    land in the same or hamming-close signatures.

    Expressed as SQL higher-order lambdas (the Python DSL's
    ``shiftright`` only accepts literal shift amounts, SQL's accepts
    columns). ``shiftright(h, i) % 2 != 0`` is the bit test — it also
    captures the sign bit via arithmetic shift at i=63.
    """
    hashed = spread(
        df.select(
            F.col(id_col),
            F.expr(
                f"transform(array_distinct(split({text_col}, ' ')), t -> xxhash64(t))"
            ).alias("_hs"),
        )
    )
    sig = F.expr(
        """
        aggregate(
          zip_with(
            transform(sequence(0, 63), i ->
              CASE WHEN aggregate(_hs, 0,
                     (acc, h) -> acc + (CASE WHEN shiftright(h, i) % 2 != 0
                                             THEN 1 ELSE -1 END)) > 0
                   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
            sequence(0, 63),
            (b, i) -> shiftleft(b, i)),
          CAST(0 AS BIGINT),
          (acc, v) -> acc + v)
        """
    )
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def _lsh_plane_coeffs(dim: int, n_tables: int, n_planes: int):
    """Integer hyperplane coefficients, engine-portable: coefficient
    (t, p, d) is the first 8 md5 hex digits of ``"t-p-d"`` mapped to
    [-1e6, 1e6). The same derivation is one SQL expression in DuckDB
    (``('0x' || substr(md5(t||'-'||p||'-'||d), 1, 8))::BIGINT``), so an
    oracle can rebuild the exact planes — same trick as the portable
    MinHash twin's permutation coefficients."""
    import hashlib

    import numpy as np

    C = np.empty((n_tables * n_planes, dim), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = int(hashlib.md5(f"{t}-{p}-{d}".encode()).hexdigest()[:8], 16)
                C[t * n_planes + p, d] = h % 2_000_000 - 1_000_000
    return C


def _quant_vectors(vecs: pd.Series):
    """floor(x * 2^20) int64 quantization — a power-of-two scale is a
    pure exponent shift, so the double product is EXACT in any engine
    and floor agrees everywhere (no round-half ambiguity)."""
    import numpy as np

    X = np.array(vecs.tolist(), dtype=np.float64)
    return np.floor(X * 1048576.0).astype(np.int64)


def filter_valid_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Shared validity gate for the portable quantized-int LSH/cosine
    kit (r13 hardening, VERDICT r12 item 3 + ADVICE): only vectors
    inside the kit's exactness domain participate, so a dirty corpus
    degrades to EXCLUSION — in both engines identically — instead of
    a worker crash or a silent builder/oracle divergence.

    The four failure modes, each mirrored by the oracles' validity
    CTEs:

    - NULL vector / wrong length: ``_quant_vectors``' dense matrix
      build hard-errors on ragged input (the original
      lsh_self_topk_portable filter, now shared);
    - NULL or NaN ELEMENT: ``np.floor(nan).astype(int64)`` is
      platform-defined garbage *silently*, while the oracle's SUM
      skips NULL x — a divergence, not a crash (ADVICE r12);
    - non-finite / out-of-domain magnitude: the kit's exact-int64
      contract is |floor(x * 2^20)| < 2^25, i.e. |x| < 32 (einsum
      sums < 2^56); inf/huge elements overflow it silently;
    - all-zero QUANTIZED norm (every element in [0, 2^-20)): the
      cosine's sqrt-product denominator is 0 — NaN/inf with
      engine-specific handling (ADVICE r12).

    Embedding fixtures are unit-normalized so none of these bind on
    committed data (re-verified at all tiers); the gate is the 100 TB
    dirty-corpus contract.
    """
    x = F.col(vec_col)
    bad_elem = F.exists(
        x, lambda e: e.isNull() | F.isnan(e) | (F.abs(e) >= F.lit(32.0))
    )
    quant_nonzero = F.exists(
        x, lambda e: (e < F.lit(0.0)) | (e >= F.lit(1.0 / 1048576.0))
    )
    return df.where(
        x.isNotNull() & (F.size(x) == dim) & ~bad_elem & quant_nonzero
    )


def vector_validity_where_sql(col: str = "embedding", dim: int = 64) -> str:
    """DuckDB twin of :func:`filter_valid_vectors`, parameterized over
    the vector column and dimension exactly like the Python helper
    (ADVICE r13: the constant below hardcoded embedding/64 while its
    Python twin was parameterized — a silent-divergence trap for a
    future consumer on a different vector column). Conditions, in the
    helper's order: non-NULL ``dim``-length, no NULL/NaN/|x|>=32
    element, non-zero quantized norm (1.0/1048576 = 2^-20 evaluates as
    exact double division in DuckDB)."""
    return f"""WHERE {col} IS NOT NULL AND len({col}) = {dim}
          AND len(list_filter({col},
                x -> x IS NULL OR isnan(x) OR abs(x) >= 32.0)) = 0
          AND len(list_filter({col},
                x -> x < 0 OR x >= 1.0/1048576)) > 0"""


# The embedding/64 instantiation interpolated into every CURRENT
# dependent oracle (knn_lsh_cosine_portable, dedup_embedding_lsh,
# knn_mutual_pairs_lsh) so the gate's domain can never drift
# per-consumer on the SQL side either — the same single-source rule as
# the Python helper above. Kept as a byte-stable literal (oracle texts
# hash into the driver-window fingerprints); equality with
# vector_validity_where_sql("embedding", 64) is pinned in
# tests/test_winnow_snm.py so the two sources cannot diverge. New
# consumers with a different column/dim call the function directly.
VECTOR_VALIDITY_WHERE_SQL = """WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding,
                x -> x IS NULL OR isnan(x) OR abs(x) >= 32.0)) = 0
          AND len(list_filter(embedding,
                x -> x < 0 OR x >= 1.0/1048576)) > 0"""


def portable_bucket_udf(dim: int, n_tables: int, n_planes: int):
    """Pandas UDF: vector -> array of per-table LSH buckets (packed
    sign bits of exact int64 plane dots). Engine-portable given
    ``_lsh_plane_coeffs`` + ``_quant_vectors``."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = _lsh_plane_coeffs(dim, n_tables, n_planes)
    bits = np.tile(
        np.fromiter((2**p for p in range(n_planes)), dtype=np.int64), n_tables
    )

    @pandas_udf(ArrayType(IntegerType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        V = _quant_vectors(vecs)
        signs = (V @ C.T >= 0).astype(np.int64)  # exact int64 dots
        packed = (signs * bits).reshape(len(V), n_tables, n_planes).sum(2)
        return pd.Series(list(packed.astype("int32")))

    return _buckets


def portable_qcos_udf():
    """Pandas UDF: quantized-integer cosine of two vector columns —
    exact int64 einsum (|x| < 2^25 -> sums < 2^56), one kernel per
    Arrow batch; bit-reproducible in SQL from the same quantized
    ints."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _qcos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        Va, Vb = _quant_vectors(a), _quant_vectors(b)
        d = np.einsum("ij,ij->i", Va, Vb)
        qa = np.einsum("ij,ij->i", Va, Va)
        qb = np.einsum("ij,ij->i", Vb, Vb)
        return pd.Series(
            d.astype(np.float64)
            / (np.sqrt(qa.astype(np.float64)) * np.sqrt(qb.astype(np.float64)))
        )

    # The kernel IS deterministic; the flag only blocks Catalyst from
    # cloning it below its Project when a threshold filter references
    # the aliased output (observed plan: two ArrowEvalPython nodes
    # running the same einsum — the flag halves the kernel cost).
    return _qcos.asNondeterministic()


def auto_n_planes(
    n: int, target_bucket: int = 16, lo: int = 4, hi: int = 24
) -> int:
    """Plane count sized to the corpus: smallest ``p`` with
    ``target_bucket * 2^p >= n`` (so the EXPECTED bucket holds about
    ``target_bucket`` vectors), clamped to [lo, hi].

    Pure-integer derivation on purpose: the oracle twin computes the
    same ``MIN(p) WHERE target * (1 << p) >= COUNT(*)`` in SQL, and
    integer shifts compare identically in every engine, where a
    ``ceil(log2(n/target))`` float path risks a 1-ulp disagreement at
    the boundaries. ``hi`` stays below 31 so the packed sign-bit
    bucket fits an int32."""
    p = next((p for p in range(hi + 1) if (target_bucket << p) >= n), hi)
    return min(hi, max(lo, p))


def embedding_lsh_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int | None = 4,
    target_bucket: int = 16,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Embedding near-dup, LSH-bucketed (the scale path for
    ``dedup_embedding_cosine``'s quadratic verifier): random-hyperplane
    sign buckets generate candidate pairs, exact cosine filters them.

    Deterministic END TO END — a DuckDB oracle reproduces it bit-for-bit:

    - vectors quantize by ``floor(x * 2^20)``: a power-of-two scale is a
      pure exponent shift, so the double product is EXACT in any engine
      and floor agrees everywhere (no round-half ambiguity);
    - hyperplane coefficients are md5-derived integers
      (``_lsh_plane_coeffs``), so plane dots are exact int64 sums —
      the bucket (packed sign bits) is engine-independent;
    - candidate verification computes cosine over the SAME quantized
      integer vectors (exact int64 einsum; quantization error ~1e-6 is
      part of this operator's definition, mirrored by the oracle).

    Shuffle shape at 100 TB: the bucket kernel is ONE int64 matmul per
    Arrow batch (map-side); candidates come from an equi-join on
    (table, bucket) moving 16-byte id pairs — O(docs x tables) shuffle
    rows, never O(docs^2) and never vector payloads. Vectors are
    re-fetched for candidates only (broadcast here; hash join on the
    id at corpus scale), and the verify is one quantized-int einsum
    per Arrow batch — the interpreted zip_with cosine measured 26s on
    806k candidates at sf0.1, the kernel ~2s. Hot buckets (mass
    near-dup clusters) re-introduce d^2 within a bucket — run exact
    dedup first; ``max_bucket_size`` (default None: off, keeps the
    oracle exact) drops over-cap (table, bucket) groups before
    pairing, and ``observation`` (a ``pyspark.sql.Observation``)
    reports ``capped_buckets`` / ``max_bucket_size_seen`` riding the
    candidate job — the same silent-recall guard as MinHash's cap.

    ``n_planes=None`` auto-scales bucket width to the corpus via
    :func:`auto_n_planes` (one count aggregate — the same class of
    small driver-side sizing action as IVF's training pass): a fixed
    plane count that gives tidy buckets at 2k vectors floods at 2M
    (bucket occupancy ~n/2^planes per table), which at sf0.1 measured
    40% of all pairs colliding somewhere. The derivation is
    engine-portable, so the DuckDB oracle reproduces the width — and
    the hash check stays exact — at every scale.
    """
    # r13 shared-kit hardening: dirty vectors (NULL/ragged/NaN-element/
    # zero-quantized-norm) degrade to exclusion BEFORE the auto-plane
    # count, the bucket kernel and the verify — see
    # filter_valid_vectors for the four failure modes
    emb = filter_valid_vectors(emb, vec_col, dim)
    if n_planes is None:
        n_planes = auto_n_planes(emb.count(), target_bucket=target_bucket)
    _buckets = portable_bucket_udf(dim, n_tables, n_planes)
    _qcos = portable_qcos_udf()

    bucketed = spread(emb.select(id_col, vec_col)).select(
        F.col(id_col),
        F.posexplode(_buckets(vec_col)).alias("table", "bucket"),
    )
    if max_bucket_size is not None or observation is not None:
        sizes = bucketed.groupBy("table", "bucket").agg(
            F.count("*").alias("_bsz")
        )
        if observation is not None:
            over = (
                F.col("_bsz") > max_bucket_size
                if max_bucket_size is not None
                else F.lit(False)
            )
            sizes = sizes.observe(
                observation,
                F.count(F.when(over, 1)).alias("capped_buckets"),
                F.max("_bsz").alias("max_bucket_size_seen"),
            )
        if max_bucket_size is not None:
            sizes = sizes.where(F.col("_bsz") <= max_bucket_size)
        bucketed = bucketed.join(sizes.drop("_bsz"), ["table", "bucket"])
    a = bucketed.select(F.col(id_col).alias("vec_a"), "table", "bucket")
    b = bucketed.select(F.col(id_col).alias("vec_b"), "table", "bucket")
    cands = (
        a.join(b, ["table", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = F.broadcast(
        emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    )
    eb = F.broadcast(
        emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    )
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", _qcos("ea", "eb").alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def load_embedding_index_config(spark, postings_path: str):
    """Frozen index params persisted beside a hyperplane posting
    archive (``<postings_path>__config``), or None before creation."""
    from ..io import path_exists

    config_path = postings_path.rstrip("/") + "__config"
    if not path_exists(spark, config_path):
        return None
    row = spark.read.parquet(config_path).collect()[0]
    return {"dim": row["dim"], "n_tables": row["n_tables"], "n_planes": row["n_planes"]}


def embedding_bucket_postings(
    emb: DataFrame,
    dim: int,
    n_tables: int,
    n_planes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(table, bucket, id) posting rows for a vector set under a FIXED
    plane config — the persistable unit of the embedding LSH index
    (hyperplane twin of minhash_band_postings). Runs the shared
    validity gate (r13): dirty vectors never reach the kernel or the
    archive, so the incremental/streaming tiers inherit the same
    degrade-to-exclusion contract as the batch tiers."""
    _buckets = portable_bucket_udf(dim, n_tables, n_planes)
    return spread(
        filter_valid_vectors(emb, vec_col, dim).select(id_col, vec_col)
    ).select(
        F.col(id_col),
        F.posexplode(_buckets(vec_col)).alias("table", "bucket"),
    )


def incremental_embedding_near_dup(
    new_vecs: DataFrame,
    postings_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int | None = None,
    target_corpus: int | None = None,
    target_bucket: int = 16,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
    batch_id: int | None = None,
    write_postings: bool = True,
    return_postings: bool = False,
):
    """Embedding twin of :func:`incremental_near_dup`: candidate pairs
    of an arriving vector batch against the archived hyperplane-bucket
    posting list — near-dup maintenance for a vector firehose without
    ever re-bucketing the archive.

    **The index parameters freeze at creation** (the FAISS
    add-with-frozen-quantizer rule): bucket keys are only comparable
    under identical planes, so the first batch derives ``n_planes``
    (from ``target_corpus`` if given — size for the corpus you EXPECT,
    not the first batch — else :func:`auto_n_planes` of the batch) and
    persists ``(dim, n_tables, n_planes)`` beside the postings at
    ``<postings_path>__config`` (a sibling, not inside: the postings
    directory must stay absent until the first posting write so the
    first-batch probe stays trivial, and compaction's delete-and-swap
    of the postings directory must not touch the config). Later
    batches load and reuse the frozen config; explicit ``n_planes``
    must match it.

    Same scale mechanics as the MinHash twin: archive participates as
    (table, bucket, id) postings only, the join shuffles bucket keys,
    per-key ``max_bucket_size`` bounds the hot-bucket pair bomb, and
    ``batch_id`` scopes the posting write for idempotent replay.
    Returns id-only (vec_a, vec_b) candidates — verify with
    :func:`embedding_pairs_cosine` against the corpus-so-far.
    ``write_postings=False`` runs the pair scan without archiving the
    batch; ``return_postings=True`` additionally returns the batch's
    still-cached posting DataFrame as ``(pairs, postings)`` so a
    caller archiving a filtered subset (the streaming sink's kept-only
    policy) reuses the signature kernel output instead of re-running
    it — the caller then owns both unpersists.
    """
    spark = new_vecs.sparkSession
    config_path = postings_path.rstrip("/") + "__config"
    cfg = load_embedding_index_config(spark, postings_path)
    if cfg is not None:
        if (dim, n_tables) != (cfg["dim"], cfg["n_tables"]):
            raise ValueError(
                f"index built with dim={cfg['dim']} n_tables={cfg['n_tables']}; "
                f"got dim={dim} n_tables={n_tables}"
            )
        if n_planes is not None and n_planes != cfg["n_planes"]:
            raise ValueError(
                f"index frozen at n_planes={cfg['n_planes']}; got {n_planes}"
            )
        n_planes = cfg["n_planes"]
    else:
        if n_planes is None:
            # size to the GATED population (r13): the same vectors the
            # posting writer below will actually index
            n = (
                target_corpus
                if target_corpus is not None
                else filter_valid_vectors(new_vecs, vec_col, dim).count()
            )
            n_planes = auto_n_planes(n, target_bucket=target_bucket)
        spark.createDataFrame(
            [(dim, n_tables, n_planes)], "dim int, n_tables int, n_planes int"
        ).coalesce(1).write.mode("overwrite").parquet(config_path)

    new_post = embedding_bucket_postings(
        new_vecs, dim, n_tables, n_planes, id_col=id_col, vec_col=vec_col
    )
    return _incremental_posting_pairs(
        new_post,
        postings_path,
        key_cols=("table", "bucket"),
        id_col=id_col,
        out_cols=("vec_a", "vec_b"),
        max_per_key=max_bucket_size,
        observation=observation,
        batch_id=batch_id,
        write_postings=write_postings,
        return_postings=return_postings,
    )


def embedding_pairs_cosine(
    pairs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact quantized-int cosine verification of id-only candidate
    pairs against a vector table — the verify stage shared by the
    batch (:func:`embedding_lsh_dedup_pairs` inlines the same shape)
    and incremental embedding near-dup tiers. Joins touch candidate
    ids only; the kernel is one Arrow einsum per batch."""
    _qcos = portable_qcos_udf()
    ea = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    eb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", _qcos("ea", "eb").alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def linear_margin_udf(dim: int, seed: str = "w"):
    """Pandas UDF: exact int64 classifier margin of each vector against
    a fixed md5-derived weight vector — broadcast linear-model
    inference (the FastText-style quality-classifier scoring pass of a
    training-data pipeline), shaped like every other kernel here: the
    weights live in ONE numpy array inside the UDF closure, the margin
    is one einsum per Arrow batch, and both quantization and weights
    are engine-portable so an oracle reproduces the margins
    bit-for-bit. The margin (not a sigmoid probability) is the output
    on purpose: exp() is not bit-portable across engines, and
    thresholding/sorting on the margin is order-equivalent."""
    import hashlib

    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    w = np.empty(dim, dtype=np.int64)
    for d in range(dim):
        h = int(hashlib.md5(f"{seed}-{d}".encode()).hexdigest()[:8], 16)
        w[d] = h % 2_000_000 - 1_000_000

    @pandas_udf(LongType())
    def _margin(vecs: pd.Series) -> pd.Series:
        import numpy as np

        V = _quant_vectors(vecs)
        return pd.Series(V @ w)

    return _margin


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Portable-hash SimHash twin: 60-bit signature whose per-token
    base hash is the first 15 md5 hex digits (60 bits — keeps the
    BIGINT positive), so a DuckDB oracle rebuilds it bit-for-bit —
    same portability trick as the md5 MinHash twin. xxhash64
    ``simhash64`` stays the production tier (one JVM hash per token
    vs md5 + hex parse)."""
    hashed = spread(
        df.where(F.col(id_col).isNotNull()).select(
            F.col(id_col),
            F.expr(
                f"transform(array_distinct(split({text_col}, ' ')), "
                "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
            ).alias("_hs"),
        )
    )
    sig = F.expr(
        f"""
        aggregate(
          zip_with(
            transform(sequence(0, {bits - 1}), i ->
              CASE WHEN aggregate(_hs, 0,
                     (acc, h) -> acc + (CASE WHEN shiftright(h, i) % 2 != 0
                                             THEN 1 ELSE -1 END)) > 0
                   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
            sequence(0, {bits - 1}),
            (b, i) -> shiftleft(b, i)),
          CAST(0 AS BIGINT),
          (acc, v) -> acc + v)
        """
    )
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def minhash_band_postings(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """(band_idx, band_hash, id) posting list — the PERSISTABLE form of
    the LSH index. Two docs are near-dup candidates iff they share a
    posting key; materializing the postings (instead of the transient
    bucket groups inside minhash_lsh_candidates) is what makes the
    index incrementally maintainable: signatures of already-indexed
    docs are never recomputed."""
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("signature"), b * rows_per_band + 1, rows_per_band
                    ).cast("array<string>").cast("string")
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def _restore_interrupted_swap(spark, postings_path: str) -> None:
    """Self-heal compact_postings' one crash window: if the archive is
    missing but its ``__old`` rename-aside survives, rename it back.
    Called by compaction and by every incremental reader, so an
    interrupted swap is repaired on the next touch instead of being
    silently mistaken for an empty first-batch archive."""
    from ..io import path_exists

    old_path = postings_path.rstrip("/") + "__old"
    if path_exists(spark, postings_path) or not path_exists(spark, old_path):
        return
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(postings_path).getFileSystem(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    if not fs.rename(hpath(old_path), hpath(postings_path)):
        raise IOError(
            f"could not restore interrupted compaction: {old_path} -> {postings_path}"
        )


def _incremental_posting_pairs(
    new_post: DataFrame,
    postings_path: str,
    key_cols: tuple[str, str],
    id_col: str,
    out_cols: tuple[str, str],
    max_per_key: int | None,
    observation,
    batch_id: int | None,
    write_postings: bool,
    return_postings: bool = False,
):
    """Shared core of the incremental near-dup tiers (MinHash bands and
    hyperplane buckets differ ONLY in how ``new_post`` is built and in
    the key/output column names): archive read with replay exclusion
    and layout guard, per-key hot cap with optional Observation
    metrics, the posting equi-join, canonical (least, greatest)
    distinct pairs, and the idempotent posting write.

    ``return_postings=True`` skips both the write and the unpersist
    and returns ``(pairs, new_post)`` with ``new_post`` still cached —
    for callers that archive a filtered subset themselves (e.g. the
    streaming sinks' kept-only policy) without re-running the
    signature kernel. The caller owns both unpersists.
    """
    from ..io import path_exists

    spark = new_post.sparkSession
    ka, kb = key_cols
    new_post = new_post.persist()
    done = False
    try:
        _restore_interrupted_swap(spark, postings_path)
        # Explicit existence probe (ADVICE r4): only a MISSING archive
        # means "first batch". A read error on an existing archive
        # propagates, so a checkpointed caller retries the batch
        # instead of silently losing every archive candidate while
        # still appending postings.
        archive = None
        if path_exists(spark, postings_path):
            archive = spark.read.parquet(postings_path)
            has_batch = "batch" in archive.columns
            # Layout guard: parquet partition discovery cannot mix flat
            # files with batch= dirs — fail fast with the migration
            # story instead of a cryptic 'conflicting directory
            # structures' crash on the NEXT read.
            if batch_id is not None and not has_batch:
                raise ValueError(
                    f"{postings_path} holds a flat (appended) posting layout; "
                    "batch_id-scoped writes would mix batch= dirs into it. "
                    "Either keep calling with batch_id=None, or migrate by "
                    "rebuilding the archive batch-scoped."
                )
            if batch_id is None and has_batch:
                raise ValueError(
                    f"{postings_path} is batch=-partitioned; a flat append "
                    "would break partition discovery. Pass a batch_id."
                )
            if has_batch:
                archive = archive.where(F.col("batch") != F.lit(batch_id))
            archive = archive.select(ka, kb, id_col)
        other = (
            new_post if archive is None
            else new_post.select(ka, kb, id_col).unionByName(archive)
        )
        if max_per_key is not None or observation is not None:
            key_counts = other.groupBy(ka, kb).agg(F.count("*").alias("__kc"))
            if observation is not None:
                # Metrics ride a DEDICATED aggregate job here, unlike
                # the batch tier's free piggyback: a CollectMetrics
                # node under this plan's candidate distinct() gets
                # dropped by runtime re-planning when AQE propagates an
                # empty relation through the join (measured — obs.get
                # then fails with an empty-row assertion). One small
                # extra pass over posting keys buys reliable metrics.
                over = (
                    F.col("__kc") > max_per_key
                    if max_per_key is not None
                    else F.lit(False)
                )
                key_counts.observe(
                    observation,
                    F.count(F.when(over, 1)).alias("capped_keys"),
                    F.max("__kc").alias("max_postings_seen"),
                ).count()
            if max_per_key is not None:
                hot = key_counts.where(F.col("__kc") > max_per_key).select(ka, kb)
                other = other.join(hot, [ka, kb], "left_anti")
        pairs = (
            new_post.select(ka, kb, F.col(id_col).alias("__new_id"))
            .join(
                other.select(ka, kb, F.col(id_col).alias("__other_id")),
                [ka, kb],
            )
            .where(F.col("__new_id") != F.col("__other_id"))
            .select(
                F.least("__new_id", "__other_id").alias(out_cols[0]),
                F.greatest("__new_id", "__other_id").alias(out_cols[1]),
            )
            .distinct()
        )
        out = pairs.persist()
        out.count()  # materialize before the postings write mutates the read path
        if return_postings:
            done = True  # caller owns both unpersists
            return out, new_post
        if write_postings:
            if batch_id is not None:
                new_post.write.mode("overwrite").parquet(
                    f"{postings_path}/batch={batch_id}"
                )
            else:
                new_post.write.mode("append").parquet(postings_path)
        return out
    finally:
        if not done:
            new_post.unpersist()


def incremental_near_dup(
    new_docs: DataFrame,
    postings_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 128,
    shingle_n: int = 5,
    bands: int = 32,
    max_postings_per_key: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
    batch_id: int | None = None,
) -> DataFrame:
    """Near-dup candidates of an arriving batch against the archive —
    the firehose complement of the batch pipeline, composing with
    stream_documents_curation's exact-dedup tier.

    Only the NEW docs are shingled and signed; the archive
    participates through its persisted posting list (parquet at
    ``postings_path``). Candidate pairs = new×archive and new×new docs
    sharing any (band_idx, band_hash) key — identical keys to the
    batch pipeline, so the union of per-batch candidates over any
    arrival order equals the full-batch candidate set (with the cap
    disabled; verified by test).

    ``max_postings_per_key`` mirrors minhash_lsh_candidates'
    DEFAULT_MAX_BUCKET_SIZE (ADVICE r4): the (band_idx, band_hash)
    join is otherwise an uncapped many-to-many, and one web-scale hot
    key (boilerplate, near-empty docs) is an O(d²) pair bomb whose
    archive side grows without bound across batches. Keys whose total
    posting count (new + archive) exceeds the cap are excluded from
    pairing; members still pair through their other bands. Pass an
    ``observation`` (pyspark.sql.Observation) to surface
    ``capped_keys`` / ``max_postings_seen`` — same silent-recall guard
    as the batch tier, but computed by one extra lightweight key-count
    job rather than piggybacking the candidate job (a CollectMetrics
    stage under this plan shape is dropped by AQE re-planning).

    ``batch_id``: when set, new postings land in a
    ``batch=<id>`` subdirectory with overwrite semantics, so a
    checkpointed caller replaying the batch after a crash rewrites the
    same postings instead of appending duplicates (the archive scan
    excludes the current batch's own directory). When None, postings
    append flat — idempotent only if the caller never replays.

    At 100 TB the postings table is (8B hash + id) x bands per doc —
    ~3% of a text corpus — and the join shuffles only band keys, never
    documents. Returns (doc_a, doc_b) with doc_a < doc_b; Jaccard
    verification joins back to shingle sets exactly as
    minhash_dedup_pairs does, touching only candidate ids.
    """
    rows_per_band = num_perms // bands
    sigs = minhash_signatures(
        new_docs, text_col=text_col, id_col=id_col,
        num_perms=num_perms, shingle_n=shingle_n,
    )
    new_post = minhash_band_postings(
        sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    return _incremental_posting_pairs(
        new_post,
        postings_path,
        key_cols=("band_idx", "band_hash"),
        id_col=id_col,
        out_cols=("doc_a", "doc_b"),
        max_per_key=max_postings_per_key,
        observation=observation,
        batch_id=batch_id,
        write_postings=True,
    )


def compact_postings(
    spark,
    postings_path: str,
    live_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    rows_per_file: int = 4_000_000,
    key_cols: tuple[str, str] = ("band_idx", "band_hash"),
) -> dict:
    """Compact the incremental near-dup posting archive (VERDICT r4
    item 4): the archive grows by one directory (or appended file set)
    per batch, and postings of retired docs are never reclaimed.
    Periodic compaction rewrites it as one flat, right-sized file set:

    - drop postings whose doc is not in ``live_ids`` (docs retired by
      downstream curation); None keeps every doc;
    - coalesce the many per-batch small files into
      ``ceil(rows / rows_per_file)`` files — the small-file problem is
      the real unbounded-growth axis for a per-batch-appending layout
      (N tiny batches -> N file sets, each a scan task at read time).

    Write-then-swap, crash-safe: the compacted set lands in
    ``<path>__compact``, the live archive is renamed ASIDE to
    ``<path>__old`` (never deleted first), the compacted set renamed
    into place, and only then is the old set deleted. Every Hadoop
    ``rename`` return value is checked (the FileSystem API reports
    failure as False, not an exception). The one crash window —
    between the two renames — leaves the archive path empty with
    ``__old`` intact, and ``_restore_interrupted_swap`` (called here
    and by every incremental reader) renames it back on the next
    touch, so an interrupted compaction can never be mistaken for an
    empty first-batch archive (the silent-recall class ADVICE r4's
    explicit probes were added to kill).

    Returns {"rows": n, "files": k} for the compacted archive.
    """
    import math

    from ..io import path_exists

    _restore_interrupted_swap(spark, postings_path)
    if not path_exists(spark, postings_path):
        return {"rows": 0, "files": 0}
    raw = spark.read.parquet(postings_path)
    # preserve the caller's layout: a batch=-partitioned archive stays
    # partitioned (compacted rows land in batch=-1) so later
    # batch-scoped writes don't mix flat files with partition dirs,
    # which breaks parquet partition discovery
    batched_layout = "batch" in raw.columns
    # dropDuplicates self-heals the one replay corner: a batch replayed
    # after a compaction consumed its postings re-writes rows that
    # batch=-1 already holds
    archive = raw.select(*key_cols, id_col).dropDuplicates()
    if live_ids is not None:
        keep = live_ids.select(F.col(live_ids.columns[0]).alias(id_col))
        archive = archive.join(keep, id_col, "left_semi")
    n = archive.count()
    files = max(1, math.ceil(n / rows_per_file))
    tmp_path = postings_path.rstrip("/") + "__compact"
    old_path = postings_path.rstrip("/") + "__old"
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(postings_path).getFileSystem(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    fs.delete(hpath(tmp_path), True)  # stale partial from a crashed compaction
    target = f"{tmp_path}/batch=-1" if batched_layout else tmp_path
    archive.repartition(files).write.mode("overwrite").parquet(target)
    _swap_compacted(spark, postings_path)
    return {"rows": n, "files": files}


def _swap_compacted(spark, path: str) -> None:
    """Crash-safe rename dance shared by every compaction
    (posting archives here; digest state in streaming/ingest.py):
    swap ``<path>__compact`` into ``<path>`` via a rename-aside to
    ``<path>__old`` — the live data is never deleted first, every
    Hadoop rename return value is checked (the FileSystem API reports
    failure as False, not an exception), and the one crash window
    (between the two renames) is healed by
    ``_restore_interrupted_swap`` on the next touch."""
    tmp_path = path.rstrip("/") + "__compact"
    old_path = path.rstrip("/") + "__old"
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    fs.delete(hpath(old_path), True)  # stale aside from a crashed swap
    if not fs.rename(hpath(path), hpath(old_path)):
        raise IOError(f"compaction swap: rename {path} -> {old_path} failed")
    if not fs.rename(hpath(tmp_path), hpath(path)):
        # restore the live data before surfacing the failure
        fs.rename(hpath(old_path), hpath(path))
        raise IOError(f"compaction swap: rename {tmp_path} -> {path} failed")
    fs.delete(hpath(old_path), True)


def semdedup(
    emb: DataFrame,
    k: int = 8,
    eps: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
    keep_rule: str = "lowest_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup that bounds the
    pairwise-cosine work by a k-means partition instead of the corpus.

    Assign every vector to a cluster, compare ONLY within-cluster
    pairs, and drop any vector whose exact cosine to a LOWER-id
    cluster-mate clears ``eps`` (keep-lowest-id — the deterministic
    stand-in for the paper's keep-farthest-from-centroid). Returns one
    row per vector: (id, cluster, keep, dup_of, score) where
    ``dup_of`` is the smallest qualifying mate and ``score`` its
    cosine rounded to 3 (the threshold itself compares the UNROUNDED
    exact cosine — the ADVICE-r7 contamination contract).

    ``keep_rule="centroid_far"`` runs the PAPER's rule on the same
    pair relation: within each eps-pair the member CLOSER to its
    cluster centroid dies (SemDeDup keeps the low-cosine-to-centroid
    representative to preserve diversity at the cluster edge); exact
    scaled-int distances decide, ties keep the lower id. Under this
    rule ``dup_of`` is the (possibly higher-id) mate that beat the
    victim IN THAT PAIR — like keep-lowest-id's dup_of, it is pair
    lineage, not a canonical survivor (the mate may itself lose a
    different pair; follow ``keep`` for the surviving set).

    Scale shape: assignment is map-only (k x d centroid literal rides
    the plan); the self-join shuffles each side ONCE on the cluster
    key, and pair work is sum_c n_c^2 — at 100 TB you pick k so
    clusters hold ~1-10k vectors (the paper's regime), making the
    quadratic term ~n_c x corpus, not corpus^2. The arithmetic is the
    shared exact scaled-int kernel (clustering._portable_cluster_col +
    vectors.dot_exact), so a DuckDB oracle replays the whole pipeline
    bit-for-bit (catalog: semdedup_embeddings).
    """
    from ..functions.vectors import dot_exact, dot_exact_arrow, norm_exact
    from .clustering import (
        _portable_dists_col,
        assign_clusters_arrow,
        portable_init_centroids,
    )

    if not 0 < eps < 1:
        raise ValueError(f"eps must be in (0, 1), got {eps}")
    if keep_rule not in ("lowest_id", "centroid_far"):
        raise ValueError(f"unknown keep_rule: {keep_rule!r}")
    if use_arrow:
        # bit-identical fast path: assignment via the pinned Arrow
        # argmin kernel (same md5-seeded centroids), pair cosine via
        # the signed-round Arrow dot kernel — removes the interpreted
        # zip_with fold that dominates the pair join (measured 29s ->
        # see tests/test_north_star.py::test_semdedup_arrow_bit_identical)
        # the kill tiebreak compares the kernel's EXACT int64 scaled
        # distance (d2s), never a dist2*SCALE double round-trip: two
        # distinct bigints whose magnitude arithmetic exceeds ~2^53
        # can collapse to one double after the /SCALE division, which
        # would let Spark's strict < disagree with a bigint-comparing
        # oracle on large-norm embeddings (review r8s4 finding).
        cents = portable_init_centroids(emb, k, id_col, vec_col)
        cols = [
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            norm_exact(F.col(vec_col)).alias("__norm"),
            F.col("cluster"),
        ]
        if keep_rule == "centroid_far":
            cols.append(F.col("d2s").alias("__d2s"))
        e = assign_clusters_arrow(emb, cents, id_col, vec_col).select(*cols)
        dot_fn = dot_exact_arrow
    else:
        dists = _portable_dists_col(emb, k, id_col, vec_col)
        cols = [
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            norm_exact(F.col(vec_col)).alias("__norm"),
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cluster"),
        ]
        if keep_rule == "centroid_far":
            cols.append(F.array_min(dists).alias("__d2s"))
        e = emb.select(*cols)
        dot_fn = dot_exact
    a, b = e.alias("a"), e.alias("b")
    joined = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.__id") < F.col("b.__id")),
    )
    sim = (
        dot_fn(F.col("a.__vec"), F.col("b.__vec"))
        / (F.col("a.__norm") * F.col("b.__norm"))
    ).alias("__sim")
    if keep_rule == "lowest_id":
        pairs = joined.select(
            F.col("b.__id").alias("__id"),
            F.col("a.__id").alias("mate"),
            sim,
        )
    else:
        # centroid_far: the pair member CLOSER to its centroid dies
        # (exact scaled-int distances; strict less-than, so on __d2s
        # ties b — the higher id — dies and a survives: same
        # one-sided victim/mate shape as lowest_id, just decided by
        # distance-to-centroid instead of id order)
        closer_is_a = F.col("a.__d2s") < F.col("b.__d2s")
        pairs = joined.select(
            F.when(closer_is_a, F.col("a.__id"))
            .otherwise(F.col("b.__id"))
            .alias("__id"),
            F.when(closer_is_a, F.col("b.__id"))
            .otherwise(F.col("a.__id"))
            .alias("mate"),
            sim,
        )
    dups = (
        pairs.where(F.col("__sim") >= F.lit(eps))
        .groupBy("__id")
        .agg(F.min(F.struct("mate", "__sim")).alias("__d"))
        .select(
            "__id",
            F.col("__d.mate").alias("dup_of"),
            F.round(F.col("__d.__sim"), 3).alias("score"),
        )
    )
    return (
        e.select("__id", "cluster")
        .join(dups, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            "score",
        )
    )


def _bloom_pos(digest_col, j: int, m: int):
    """Bit position j for a digest string: md5-of-(digest ‖ '-j'),
    first 8 hex digits mod m — the same engine-portable slice scheme
    every md5 bucket in this repo uses."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(digest_col, F.lit(f"-{j}"))), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(m),
    )


def bloom_build(ref: DataFrame, digest_col: str, m: int, k: int):
    """Build the m-byte '0'/'1' bitmap LITERAL from a reference
    digest relation — ONE distinct-positions aggregate (bounded by m,
    not |ref|) collected to the driver. Shared by the batch novelty
    scan (:func:`bloom_membership`) and the streaming anti-join
    prefilter (streaming/ingest.py curation_batch_plan).

    BINARY literal, not a string: Substring on StringType is
    CHARACTER-indexed, so each probe walks the UTF8 bytes up to the
    position — O(m) per lookup, measured as a cliff at large m
    (m=2^18: 13.8 s for a 5k-row probe; m=2^20 effectively hangs).
    On BinaryType the same Substring expression is a byte-indexed
    O(1) slice. The literal itself still rides every plan and task,
    so beyond ~10^5 bits use :func:`bloom_bitmap_bytes` +
    :func:`bloom_hit_udf` (broadcast) instead."""
    return F.lit(bloom_bitmap_bytes(ref, digest_col, m, k))


def bloom_bitmap_bytes(ref: DataFrame, digest_col: str, m: int, k: int) -> bytes:
    """The bitmap as raw driver-side bytes — the input both probe
    shapes share: wrap in ``F.lit`` for the literal probe
    (:func:`bloom_hit_expr`, oracle-portable, fine to ~10^5 bits) or
    hand to :func:`bloom_hit_udf` for the broadcast probe (the
    steady-state streaming shape at real bitmap sizes)."""
    positions = {
        r.p
        for r in ref.select(
            F.explode(
                F.array(*[_bloom_pos(F.col(digest_col), j, m) for j in range(1, k + 1)])
            ).alias("p")
        )
        .distinct()
        .collect()
    }
    return "".join("1" if i in positions else "0" for i in range(m)).encode()


# probe-factory cache: one Broadcast + one UDF per distinct bitmap —
# calling bloom_hit_udf once per micro-batch must NOT re-broadcast the
# m-byte bitmap to every executor each batch (review r8s4 finding).
# Keyed on content, small FIFO cap so a long session rotating bitmaps
# (one per compaction cycle) never accumulates unbounded broadcasts.
_BLOOM_PROBE_CACHE: dict = {}
_BLOOM_PROBE_CACHE_MAX = 4


def bloom_hit_udf(spark, bitmap_bytes: bytes, m: int, k: int):
    """Probe factory for LARGE bitmaps: returns ``hit(digest_col) ->
    BooleanColumn`` backed by a BROADCAST of the bitmap and one Arrow
    lookup kernel. A literal bitmap column costs O(m) per PLAN — a
    4 MB literal measured ~10 s of driver/codegen/task-ship overhead
    per micro-batch regardless of row count — while the broadcast
    ships once per executor and the probe is k O(1) byte loads per
    row (one vectorized gather per Arrow batch, not a Python loop).
    Repeat calls with the same (bitmap, m, k) reuse the cached
    broadcast+UDF, so per-micro-batch cost is plan-reference only.
    Positions stay JVM-side md5 (identical to
    :func:`bloom_hit_expr`, decisions bit-identical — equality
    tested); only the lookup crosses into Arrow. NULL digests return
    NULL, matching the literal probe (callers coalesce to False)."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # applicationId is a stable per-context identifier; id() of the
    # SparkContext object is NOT — after a stop + GC a new context can
    # reuse the address and hit a cached probe bound to a dead
    # broadcast (ADVICE r8)
    key = (hashlib.md5(bitmap_bytes).hexdigest(), m, k, spark.sparkContext.applicationId)
    if key in _BLOOM_PROBE_CACHE:
        return _BLOOM_PROBE_CACHE[key][0]

    bc = spark.sparkContext.broadcast(
        np.frombuffer(bitmap_bytes, dtype=np.uint8)
    )

    @pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        arr = bc.value
        n = len(pos)
        mask = pos.notna().to_numpy()
        out = np.empty(n, dtype=object)
        out[~mask] = None
        if mask.any():
            idx = np.stack(
                [np.asarray(p, dtype=np.int64) for p in pos[mask]]
            )  # (n_nonnull, k)
            out[mask] = (arr[idx] == ord("1")).all(axis=1)
        return pd.Series(out, dtype=object)

    def hit(digest_col) -> "F.Column":
        positions = F.when(
            digest_col.isNotNull(),
            F.array(*[_bloom_pos(digest_col, j, m) for j in range(1, k + 1)]),
        )
        return _probe(positions)

    if len(_BLOOM_PROBE_CACHE) >= _BLOOM_PROBE_CACHE_MAX:
        _, old_bc = _BLOOM_PROBE_CACHE.pop(next(iter(_BLOOM_PROBE_CACHE)))
        try:
            # release the evicted bitmap's EXECUTOR copies only
            # (ADVICE r8: long sessions rotating bitmaps must not leak
            # broadcast memory). unpersist — NOT destroy — because a
            # previously returned UDF, or an unexecuted lazy plan built
            # from it, still closes over the evicted broadcast; destroy
            # would make that plan fail at runtime once a 5th bitmap
            # evicts it (ADVICE r9). After unpersist the driver copy
            # survives and Spark re-ships it on demand, so outstanding
            # plans stay executable; the driver-side bytes are freed
            # when the closure itself is garbage-collected.
            old_bc.unpersist()
        except Exception:
            pass  # context already stopped — nothing to release
    _BLOOM_PROBE_CACHE[key] = (hit, bc)
    return hit


def bloom_hit_expr(digest_col, bitmap, m: int, k: int):
    """Map-only membership probe: AND of k byte-slice lookups into the
    binary bitmap literal. False positives possible, false negatives
    never — a miss is PROOF of novelty (the property the streaming
    prefilter relies on)."""
    hit = None
    for j in range(1, k + 1):
        h = F.substring(bitmap, _bloom_pos(digest_col, j, m) + 1, 1) == F.lit(b"1")
        hit = h if hit is None else (hit & h)
    return hit


def bloom_membership(
    ref: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 16384,
    k: int = 4,
    with_exact: bool = True,
) -> DataFrame:
    """Deterministic Bloom-filter novelty scan: has this content been
    seen in the reference snapshot? — the cross-snapshot membership
    primitive a recrawl pipeline runs so the 100 TB probe side never
    joins against the reference corpus.

    Build: the reference's content digests hash into ``k`` md5-derived
    bit positions; the DISTINCT positions (bounded by ``m``, NOT by
    |ref|) collect to the driver and ride the probe plan as an
    ``m``-char '0'/'1' bitmap literal — O(m) state exactly like a real
    Bloom bitmap (a production deployment swaps the string for
    broadcast bytes + getbit; same semantics). Probe: map-only — k
    substring lookups per row, zero shuffles, zero joins.

    Every hash is md5-of-string, so the filter is engine-portable and
    its FALSE POSITIVES are deterministic: the catalog oracle
    (bloom_novelty_docs) hash-pins not just the hits but the exact FP
    set, and no-false-negative is a tested invariant. ``with_exact``
    adds the ground-truth ``exact_dup`` column via a digest semi-join
    (broadcast-sized here; at scale you run the bloom WITHOUT it —
    that join is the cost the filter exists to avoid, kept here to
    measure FPR under the hash gate).
    """
    if m <= 0 or k <= 0:
        raise ValueError(f"m and k must be positive, got m={m}, k={k}")
    digest = F.md5(F.col(text_col))
    bitmap = bloom_build(ref.select(digest.alias("__dg")), "__dg", m, k)
    out = probe.select(
        F.col(id_col),
        digest.alias("__dg"),
        bloom_hit_expr(digest, bitmap, m, k).alias("bloom_hit"),
    )
    if with_exact:
        ref_dg = ref.select(digest.alias("__dg")).distinct()
        out = (
            out.join(
                F.broadcast(ref_dg.withColumn("__in", F.lit(True))), "__dg", "left"
            )
            .select(
                id_col,
                "bloom_hit",
                F.coalesce("__in", F.lit(False)).alias("exact_dup"),
            )
        )
    else:
        out = out.select(id_col, "bloom_hit")
    return out


def _exact_substring_runs(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """The shared ExactSubstr core: duplicated overlapping ``k``-gram
    occurrences (keeper = globally smallest ``(doc, start)``) merged
    into maximal per-doc removed runs ``(__id, __s, __e)`` — consumed
    by the stats view (:func:`exact_substring_dedup`) and the
    cleaned-text view (:func:`exact_substring_clean`) so their
    removal sets can never drift."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    # r14 optimization (guide §2.5 input skew): the shingle build +
    # per-gram md5 ran on the scan's few skewed splits of a small
    # single-file corpus; spread() the doc rows first so the gram
    # stage runs at full parallelism. The gram-keyed window downstream
    # re-shuffles by digest either way, so results are unchanged.
    grams = spread(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("__id"),
        F.posexplode(word_shingles(F.col(text_col), k)).alias("__p0", "__gram"),
    ).select(
        "__id",
        (F.col("__p0") + 1).alias("__start"),
        F.md5("__gram").alias("__g"),
    )
    wg = Window.partitionBy("__g").orderBy(
        F.col("__id").asc(), F.col("__start").asc()
    )
    victims = (
        grams.withColumn("__rn", F.row_number().over(wg))
        .where(F.col("__rn") > 1)
        .select("__id", "__start", (F.col("__start") + k - 1).alias("__end"))
    )
    wd = Window.partitionBy("__id").orderBy("__start")
    prev_end = F.max("__end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = victims.withColumn(
        "__ni",
        F.when(prev_end.isNull() | (F.col("__start") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__ni").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return marked.groupBy("__id", "__isl").agg(
        F.min("__start").alias("__s"), F.max("__end").alias("__e")
    )


def exact_substring_dedup(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): remove duplicated SPANS, not
    whole documents — the sub-document dedup that whole-doc and
    near-dup tiers miss (boilerplate, licence headers, quoted
    passages). Word-token adaptation of the paper's 50-token rule:

    - every OVERLAPPING ``k``-gram of the space-tokenized text is an
      occurrence; a gram occurring >= 2 times corpus-wide is
      duplicated;
    - the globally-first occurrence (smallest ``(doc, start)``) is
      the keeper; every other occurrence marks its ``[start, start+
      k-1]`` token span for removal in its own document;
    - per document, marked spans are merged into maximal removed runs
      (gaps-and-islands on the exact integer positions).

    Returns one row per input document: ``(id, n_tokens,
    n_spans_removed, n_tokens_removed, n_tokens_kept)`` — exact
    integers only, so the whole relation is oracle-hashable.

    Scale shape: the paper builds a single-machine suffix array; the
    distributed equivalent is an inverted index over gram digests.
    The gram relation is corpus-sized (one row per token position)
    and shuffles ONCE, keyed on the 128-bit md5 of the gram —
    constant-width keys instead of k-word strings, and collisions are
    2^-64-level (the paper's own suffix-array dedup tolerates far
    more). Victims (duplicated occurrences only — at healthy dedup
    rates a few % of positions) shuffle back to their doc for the
    island window; nothing is ever quadratic in corpus size and no
    driver-side state exists. k=10 suits the word-salad fixture; the
    paper's 50-token spans are the same plan with a wider slice.
    """
    toks = F.split(F.col(text_col), " ")
    counts = docs.select(
        F.col(id_col).alias("__id"), F.size(toks).cast("bigint").alias("n_tokens")
    )
    per_doc = (
        _exact_substring_runs(docs, k, id_col, text_col)
        .groupBy("__id")
        .agg(
            F.count("*").cast("int").alias("n_spans_removed"),
            F.sum(F.col("__e") - F.col("__s") + 1)
            .cast("bigint")
            .alias("n_tokens_removed"),
        )
    )
    return counts.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_tokens",
        F.coalesce("n_spans_removed", F.lit(0)).alias("n_spans_removed"),
        F.coalesce("n_tokens_removed", F.lit(0).cast("bigint")).alias(
            "n_tokens_removed"
        ),
        (F.col("n_tokens") - F.coalesce("n_tokens_removed", F.lit(0)))
        .cast("bigint")
        .alias("n_tokens_kept"),
    )


def exact_substring_clean(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The materializing half of ExactSubstr dedup: emit the CLEANED
    corpus — every token inside a removed run deleted, survivors
    re-joined in order — so the dedup actually feeds the next stage
    (packing, tokenization) instead of only reporting counts. Removal
    semantics are byte-identical to :func:`exact_substring_dedup`
    (both consume :func:`_exact_substring_runs`; the per-doc
    ``n_tokens_kept`` columns are equality-tested across the two
    views).

    Returns ``(id, n_tokens_kept, clean_text)``; a fully-removed
    document yields ``('', 0)`` rather than disappearing.

    Scale shape: the runs relation (a few rows per affected doc)
    aggregates to one array per doc and joins back to the corpus —
    broadcastable whenever the duplicated fraction is sane, else it
    rides the doc-keyed exchange the island window already created.
    The per-token keep test is an ``exists`` over that tiny runs
    array inside codegen — no UDF, no second corpus shuffle.
    """
    runs_arr = (
        _exact_substring_runs(docs, k, id_col, text_col)
        .groupBy("__id")
        .agg(F.collect_list(F.struct("__s", "__e")).alias("__runs"))
    )
    ts = F.split(F.col(text_col), " ")
    joined = docs.select(F.col(id_col).alias("__id"), ts.alias("__ts")).join(
        runs_arr, "__id", "left"
    )
    runs = F.coalesce(
        F.col("__runs"), F.array().cast("array<struct<__s:int,__e:int>>")
    )
    kept = F.filter(
        F.col("__ts"),
        lambda x, i: ~F.exists(
            runs, lambda r: (r["__s"] <= i + 1) & (i + 1 <= r["__e"])
        ),
    )
    # coalesce: a NULL text gives size(filter(NULL)) = NULL under
    # ANSI, but concat_ws still yields '' — the contract (and the
    # oracle's COALESCE) is ('', 0) for token-less docs
    return joined.select(
        F.col("__id").alias(id_col),
        F.coalesce(F.size(kept).cast("bigint"), F.lit(0)).alias("n_tokens_kept"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def bitstring_hamming(a, b, n_bits: int) -> "F.Column":
    """Exact Hamming distance between two '0'/'1' bit-string columns:
    a fold over the n_bits positions comparing one char at a time —
    pure codegen expressions, engine-portable (the identical CASE
    sum runs in DuckDB), intended for CANDIDATE pairs (O(n_bits^2)
    char walks per pair is trivial at candidate-relation size, wrong
    for a full cross join — band first)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(n_bits)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + (a.substr(i, F.lit(1)) != b.substr(i, F.lit(1))).cast("bigint"),
    )


def bitstring_near_dup_pairs(
    sigs: DataFrame,
    sig_col: str = "phash",
    id_col: str = "doc_id",
    n_bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = 256,
    observation=None,
    precap_mode: str = "broadcast",
) -> DataFrame:
    """Hamming-space near-dup pairs over bit-string signatures (the
    pairing tier for perceptual image hashes — aHash/dHash/pHash all
    emit Hamming-comparable bit strings).

    LSH by bit-slicing (the classic pigeonhole construction): split
    the signature into ``bands`` contiguous segments; two signatures
    within ``max_hamming`` bits MUST agree on at least one whole
    segment whenever ``max_hamming < bands`` (pigeonhole: k < bands
    differing bits cannot touch every band), so banding loses
    nothing — candidates are exact, only false candidates are
    filtered by the verify step. Scale shape: one exchange on
    (band_idx, segment), per-bucket ordered-pair explode (same shape
    as the MinHash band join), Hamming verify walks n_bits chars on
    candidate pairs only.

    ``max_bucket_size`` drops band buckets bigger than the cap before
    pairing — a corpus with D near-identical copies of an image puts
    all D in the same buckets and would emit ~D^2/2 pairs per bucket
    (measured: the r9 scale suite's 64x salted replicas, which ARE
    perceptual near-dups of each other, drove the uncapped join to
    alpha 1.18 / 326 s at 64x — candidate volume by construction, not
    a plan defect, but worst-case work must be bounded). The cap is
    enforced by the count-first pre-pass (:func:`_precap_hot_keys`,
    r10): over-cap keys are identified by a map-combinable count and
    broadcast-anti-joined out BEFORE the per-bucket collect, so the
    viral image's D signatures are dropped map-side instead of
    shuffling to one reducer and materializing a D-element array that
    the old post-filter then discarded (the r9 capped 64x cell still
    cost 108 s / alpha 1.28 for exactly that reason). Members of a
    capped bucket can still pair through their other bands; the cap
    is a silent-recall hazard exactly like MinHash's, so pass an
    ``observation`` (pyspark.sql.Observation) to get
    ``capped_buckets`` / ``max_bucket_size_seen`` (one dedicated
    key-count job at build time — see _precap_hot_keys for why the
    metrics cannot ride the candidate job). The default 256 is
    verified non-binding on all three fixture tiers (max bucket
    4 / 4 / 19 at sf0.001/0.01/0.1), so the catalog oracles stay
    uncapped and exact.

    BAND-KEY WIDTH SIZING RULE (the bitstring analogue of
    ``auto_n_planes``, from the BENCH_SCALE_R12_VIDEO diagnosis):
    the per-band key space is ``2^(n_bits/bands)``; candidate volume
    stays linear only while ``2^(n_bits/bands) >> n_signatures / 16``
    (expected bucket occupancy ~16). Below that the keys
    birthday-saturate and within-band candidates degrade toward
    quadratic — measured on the 64-bit/4-band tier under 4x frame
    fan-out: 259k of 262k 16-bit keys occupied at 64x, under-cap
    candidates growing 72x for an 8x corpus, alpha 1.24, every extra
    pair rejected by the Hamming verify. Width is a property of the
    SIGNATURE, so the knob lives with the generator: use 128-bit wide
    signatures (``ahash_images(method="ahash_dhash")``,
    ``audio_fingerprints(wide=True)``) for corpora past ~1M
    signatures — 4 x 32-bit keys hold the linear regime to ~10^10
    signatures (alpha 0.69 and 3x faster at the 64x factor) while
    keeping the pigeonhole guarantee (bands > max_hamming) and
    near-dup locality (both halves are real perceptual-hash rules).

    Returns (id_lo, id_hi, hamming) with id_lo < id_hi, one row per
    qualifying pair. Raises when the pigeonhole guarantee would not
    hold (max_hamming >= bands) or the signature does not split
    evenly."""
    if n_bits % bands != 0:
        raise ValueError(f"n_bits {n_bits} not divisible by bands {bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    seg = n_bits // bands
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sig_col).alias("__sig"),
        F.posexplode(
            F.array(
                *[F.substring(sig_col, b * seg + 1, seg) for b in range(bands)]
            )
        ).alias("__b", "__key"),
    )
    # broadcast mode by default: callers persist the signature
    # relation (the catalog entries use named slots), so the count
    # pass reads cache and the hot key's rows are dropped MAP-SIDE,
    # never crossing the exchange; pass precap_mode="window" when the
    # signature lineage is expensive and unpersisted (see
    # _precap_hot_keys for the measured trade).
    banded = _precap_hot_keys(
        banded, ("__b", "__key"), max_bucket_size, observation,
        mode=precap_mode,
    )
    buckets = banded.groupBy("__b", "__key").agg(
        F.sort_array(F.collect_list(F.struct("__id", "__sig"))).alias("ms")
    )
    cand = (
        buckets.where(F.size("ms") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size("ms") - 2),
                        lambda i: F.transform(
                            F.slice(F.col("ms"), i + 2, F.size("ms")),
                            lambda m: F.struct(
                                F.element_at(F.col("ms"), i + 1).alias("a"),
                                m.alias("b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.__id").alias("id_lo"),
            F.col("p.b.__id").alias("id_hi"),
            F.col("p.a.__sig").alias("__s1"),
            F.col("p.b.__sig").alias("__s2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", bitstring_hamming(F.col("__s1"), F.col("__s2"), n_bits)
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_lo", "id_hi", "hamming")
    )


def bitstring_band_postings(
    sigs: DataFrame,
    sig_col: str = "phash",
    id_col: str = "doc_id",
    n_bits: int = 64,
    bands: int = 4,
) -> DataFrame:
    """(band_idx, band_hash, id) posting list for bit-string
    signatures — the PERSISTABLE form of the Hamming band-LSH index,
    schema-compatible with the MinHash posting archive (band_hash =
    xxhash64 of the bit segment; a 64-bit collision only ever adds a
    false CANDIDATE, which the Hamming verify removes), so
    :func:`compact_postings` and the incremental core apply
    unchanged."""
    if n_bits % bands != 0:
        raise ValueError(f"n_bits {n_bits} not divisible by bands {bands}")
    seg = n_bits // bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.lit(b), F.substring(sig_col, b * seg + 1, seg))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def incremental_phash_near_dup(
    new_sigs: DataFrame,
    postings_path: str,
    sigs_path: str,
    sig_col: str = "phash",
    id_col: str = "doc_id",
    n_bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    max_postings_per_key: int | None = 256,
    observation=None,
    batch_id: int | None = None,
    write_archives: bool = True,
    return_archives: bool = False,
):
    """Incremental perceptual-hash near-dup: VERIFIED Hamming pairs of
    an arriving batch of image signatures against the archive — the
    multimodal member of the incremental family, next to the MinHash
    (text) and hyperplane (embedding) tiers, built on the same shared
    posting core (archive replay exclusion, layout guard, hot-key
    cap + Observation, canonical pairs, idempotent batch_id-scoped
    writes) and the same :func:`compact_postings` lifecycle.

    ``new_sigs`` is the batch's (id, bit-string) relation — compute it
    with :func:`~lichess_db_spark.multimodal.media.ahash_images` so
    only NEW blobs are ever decoded/hashed; the archive participates
    through its persisted postings. Alongside the postings, the
    signatures themselves are archived at ``sigs_path`` (same
    batch_id/flat layout contract) because the Hamming VERIFY needs
    both members' bit strings — per doc that is one 64-char row, the
    side table is id + signature, and the verify join touches only
    candidate ids. Union of per-batch verified pairs over any arrival
    order equals the one-shot :func:`bitstring_near_dup_pairs` of the
    full corpus (cap disabled; pinned by test).

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, hamming <=
    ``max_hamming``. ``write_archives=False`` skips both archive
    writes and REQUIRES ``return_archives=True`` (the False/False
    combination raises — it would neither archive the postings nor
    hand them to the caller, ADVICE r9); it then returns
    ``(pairs, new_post, sig_rows)`` with ``new_post`` still cached —
    for sinks that archive a KEPT-ONLY subset themselves (the
    embeddings-sink policy); the caller owns the new_post unpersist
    and both writes."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    if return_archives and write_archives:
        raise ValueError(
            "return_archives=True requires write_archives=False — the "
            "kept-only caller owns the archive writes"
        )
    if not write_archives and not return_archives:
        # ADVICE r9: this combination used to validate but silently
        # leaked — the posting core handed back a persisted new_post
        # that was dropped without unpersist, and no archives were
        # written (lost postings + a per-call cache leak).
        raise ValueError(
            "write_archives=False requires return_archives=True — "
            "otherwise the batch's postings are neither archived nor "
            "handed to the caller (and the persisted posting relation "
            "would leak)"
        )
    from ..io import path_exists

    spark = new_sigs.sparkSession
    new_sigs = new_sigs.select(
        F.col(id_col), F.col(sig_col).alias("__sig")
    ).persist()
    try:
        new_post = bitstring_band_postings(
            new_sigs.select(F.col(id_col), F.col("__sig").alias(sig_col)),
            sig_col=sig_col,
            id_col=id_col,
            n_bits=n_bits,
            bands=bands,
        )
        core = _incremental_posting_pairs(
            new_post,
            postings_path,
            key_cols=("band_idx", "band_hash"),
            id_col=id_col,
            out_cols=("doc_a", "doc_b"),
            max_per_key=max_postings_per_key,
            observation=observation,
            batch_id=batch_id,
            write_postings=write_archives,
            return_postings=not write_archives,
        )
        pairs, new_post_cached = core if not write_archives else (core, None)
        # signature side table: archive current batch's sigs with the
        # same replay contract as the postings
        sig_rows = new_sigs.select(F.col(id_col), F.col("__sig").alias(sig_col))
        all_sigs = sig_rows
        if path_exists(spark, sigs_path):
            archived = spark.read.parquet(sigs_path)
            if batch_id is not None and "batch" in archived.columns:
                archived = archived.where(F.col("batch") != F.lit(batch_id))
            # dropDuplicates: the verify join below evaluates LAZILY,
            # after the flat-layout append lands — the re-listed
            # directory would otherwise hand the current batch's sigs
            # back a second time through the union (a per-id sig is
            # unique, so the dedup is exact, not lossy)
            all_sigs = (
                archived.select(id_col, sig_col)
                .unionByName(sig_rows)
                .dropDuplicates([id_col])
            )
        if write_archives:
            if batch_id is not None:
                (
                    sig_rows.withColumn("batch", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("batch")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(sigs_path)
                )
            else:
                sig_rows.write.mode("append").parquet(sigs_path)
        sa = all_sigs.select(
            F.col(id_col).alias("doc_a"), F.col(sig_col).alias("__s1")
        )
        sb = all_sigs.select(
            F.col(id_col).alias("doc_b"), F.col(sig_col).alias("__s2")
        )
        verified = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "hamming", bitstring_hamming(F.col("__s1"), F.col("__s2"), n_bits)
            )
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
            .persist()
        )
        # materialize, then release the core's candidate cache: the
        # persisted pair relation is otherwise hidden inside verified's
        # lineage and leaks one cache entry per call/micro-batch
        # (r9 self-review). Candidate-sized job — cheap.
        verified.count()
        pairs.unpersist()
        if return_archives:
            return verified, new_post_cached, sig_rows
        return verified
    finally:
        new_sigs.unpersist()


def cdc_chunk_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    mod: int = 32,
    min_len: int = 4,
) -> DataFrame:
    """Content-defined chunk dedup report (the LBFS/FastCDC family —
    the rolling-hash sub-document fingerprinting tier code-corpus
    pipelines use): a chunk boundary falls after byte ``i`` whenever
    the md5-derived hash of the ``window``-byte span ending at ``i``
    hits 0 mod ``mod`` (expected chunk length ~``mod`` bytes), plus a
    forced boundary at end-of-document. Insertions shift boundaries
    only LOCALLY — every chunk after the first re-synchronized
    boundary is byte-identical, which fixed-size blocking can never
    give (shift-robustness property-tested against a Python twin).

    Returns every chunk digest duplicated across the corpus:
    ``(chunk_digest, n_copies, n_docs, chunk_len)``; chunks shorter
    than ``min_len`` are excluded from the report (adjacent boundaries
    produce confetti chunks — real CDC deployments enforce a min chunk
    size the same way).

    Scale shape: the boundary predicate and chunk extraction run
    entirely in codegen ARRAY expressions — positions live in one
    array cell per doc (`filter` over `sequence(window, len)`), chunks
    come from an indexed `transform` reading the previous boundary via
    `get(bnds, j-1)` — no UDF, no per-position explode; the only
    exploded relation is the chunks themselves and the only exchanges
    are the digest-keyed dedup aggregate pair. The md5-per-position
    predicate is the ORACLE-EXACT shape (deterministic in DuckDB too);
    a 100 TB deployment swaps it for a gear-hash Arrow kernel with the
    same boundary semantics. Validated: window/mod/min_len must be
    positive, window >= 2."""
    if window < 2 or mod <= 0 or min_len <= 0:
        raise ValueError(
            f"need window >= 2, mod > 0, min_len > 0: {window}, {mod}, {min_len}"
        )
    # r14 optimization (guide §2.5 input skew): the boundary predicate
    # is an md5 per character position — by far the entry's cost — and
    # it inherited the scan's partitioning (a small single-file corpus
    # scans as a handful of skewed splits, so one task hashed most of
    # the corpus). spread() round-robins the pre-explode doc rows to
    # the session's default parallelism; measured 6.17 s -> 0.81 s
    # isolated at sf0.1/local[32]. The digest aggregate downstream is
    # partition-order-free, so results are unchanged.
    d = spread(df.where(F.length(text_col) >= window))
    n = F.length(text_col)
    bnds = F.filter(
        F.sequence(F.lit(window), n),
        lambda i: (i == n)
        | (
            F.conv(
                F.substring(
                    F.md5(F.col(text_col).substr(i - F.lit(window - 1), F.lit(window))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % mod
            == 0
        ),
    )
    withb = d.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__tx"), bnds.alias("__bnds"))
    prev = lambda j: F.coalesce(F.get(F.col("__bnds"), j - 1), F.lit(0))  # noqa: E731
    chunks = F.transform(
        F.col("__bnds"),
        lambda b, j: F.col("__tx").substr(prev(j) + 1, b - prev(j)),
    )
    ch = withb.select("__id", F.explode(chunks).alias("__chunk")).where(
        F.length("__chunk") >= min_len
    )
    return (
        ch.groupBy(F.md5("__chunk").alias("chunk_digest"))
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct("__id").cast("bigint").alias("n_docs"),
            F.min(F.length("__chunk")).cast("bigint").alias("chunk_len"),
        )
        .where(F.col("n_copies") > 1)
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting algorithm): hash every
    overlapping ``k``-char gram, slide a window of ``w`` consecutive
    hashes, and in each window select the MINIMUM hash, breaking ties
    by the RIGHTMOST position (robust winnowing). The selected
    (hash, position) set per document is its fingerprint sketch, with
    two guarantees the paper proves: any shared substring of length
    >= w + k - 1 between two documents yields at least one SHARED
    selected hash, and the expected density of selected positions is
    2 / (w + 1) — an index ~2x/(w+1) the size of the full k-gram
    relation that still catches every long-enough match (contrast
    MinHash, which sketches whole-document similarity and cannot
    locate the matching span).

    Returns one row per selected fingerprint:
    ``(id, fp BIGINT, pos BIGINT)`` where ``fp`` is the 32-bit
    md5-derived gram hash and ``pos`` the 1-based char position of the
    selected gram. Documents shorter than ``k + w - 1`` chars (or with
    NULL text) yield no rows — there is no full window to select from.

    Portability/exactness: the per-position hash is
    ``conv(md5(gram)[:8], 16, 10)`` — deterministic in Spark and
    DuckDB. Min-with-rightmost-tiebreak is encoded ORDER-FREE in a
    single bigint key ``hv * 4096 + (4096 - pos)`` (positions are
    lint-capped at 2000 < 4096, see tests/test_catalog_schema_lint),
    so ``array_min`` alone performs the paper's tie rule and the
    selected set is a pure function of the text.

    Scale shape: hashing and window selection run entirely in codegen
    ARRAY expressions over one row per document — the keys array is
    pre-projected into its own column so CollapseProject cannot
    re-inline the md5 chain into every window's lambda (each gram is
    hashed ONCE, not once per covering window; same materialization
    rule as text_repetition_stats). The only exploded relation is the
    selected fingerprints themselves — a 2/(w+1) fraction of
    positions — and the operator itself needs ZERO shuffles; the
    md5-per-position cost is the oracle-exact shape (a 100 TB run
    swaps in a rolling Karp-Rabin Arrow kernel with identical
    selection semantics, the same documented trade as
    cdc_chunk_report).
    """
    withk, sel = _winnow_selected_keys(docs, k, w, id_col, text_col)
    return withk.select("__id", F.explode(sel).alias("__key")).select(
        F.col("__id").alias(id_col),
        F.shiftright("__key", 12).alias("fp"),
        (F.lit(4096) - (F.col("__key") % 4096)).alias("pos"),
    )


def _winnow_selected_keys(docs: DataFrame, k: int, w: int, id_col: str, text_col: str):
    """Shared winnowing selection: returns ``(withk, sel)`` — the
    filtered/projected frame carrying the per-doc gram-key array, and
    the selection as a column EXPRESSION over it. The gram-hash array
    is pre-projected into its own column so md5 runs once per gram,
    not once per covering window (CollapseProject materialization
    rule, same as text_repetition_stats). The selection is handed
    back as an expression, NOT pre-projected into a named column,
    deliberately: callers explode it, and Catalyst's
    InferFiltersFromGenerate only infers ``size(e) > 0 AND
    isnotnull(e)`` when the generator input is an ATTRIBUTE — a named
    __sel column made the rule push that predicate below the
    round-robin exchange, where the re-inlined selection loses the
    keys pre-projection and rebuilds the whole gram array per window:
    O(grams x windows) md5s per doc, measured 30x on the density
    entry, plus slice(keys, 0, w) crashes on the sub-window docs the
    real filter would have dropped. The when() guard makes the
    expression total regardless of where an optimizer rule evaluates
    it."""
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1: {k}, {w}")
    n_k = F.length(text_col) - (k - 1)
    d = docs.where(F.col(text_col).isNotNull() & (n_k >= w))
    keys = F.transform(
        F.sequence(F.lit(1), F.length("__tx") - (k - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.col("__tx").substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("bigint")
        * 4096
        + (F.lit(4096) - i),
    )
    # r14 optimization (guide §2.5 input skew): the keys projection —
    # one md5 per gram, the dominant cost — used to sit BELOW the
    # round-robin exchange, so it ran on the scan's few skewed splits
    # (a small single-file corpus is a handful of tasks) and the
    # exchange only spread the already-computed arrays. Spread the raw
    # (id, text) rows FIRST so the hashing runs at full parallelism,
    # then hold the materialized arrays behind the Arrow identity
    # barrier (spread(barrier_only=True)) — without it CollapseProject
    # re-inlines the keys projection into every window's slice lambda
    # (the O(grams x windows) md5 re-evaluation this helper's
    # docstring documents). Measured isolated at sf0.1/local[32]:
    # winnow_fingerprint_density 3.9 s -> see OPTIMIZATION_r14.md.
    withk = spread(
        spread(
            d.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__tx"))
        ).select("__id", keys.alias("__keys")),
        barrier_only=True,
    )
    sel = F.when(
        F.size("__keys") >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("__keys") - (w - 1)),
                lambda j: F.array_min(F.slice("__keys", j, w)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return withk, sel


def winnow_match_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style match pairing over winnowed fingerprints: documents
    sharing >= ``min_shared`` DISTINCT selected hashes, with the exact
    shared count. Fingerprints appearing in more than
    ``max_docs_per_fp`` distinct documents are dropped FIRST — the
    paper's own "ignore extremely common fingerprints" rule
    (boilerplate headers would otherwise pair everything with
    everything), and the same count-first hot-key discipline as the
    MinHash tier: the cap binds BEFORE any per-key row buffering, so a
    viral fingerprint can never aggregate an unbounded posting list.

    Returns ``(doc_a, doc_b, n_shared BIGINT)`` with doc_a < doc_b.

    Scale shape: distinct (doc, fp) postings shuffle once on fp; the
    per-fp doc count rides the SAME exchange as a window count (the
    single-scan shape measured cheapest in the minhash pre-cap A/B,
    BENCH_SCALE_R10_TEXT); surviving postings self-join on fp (an
    equi-join whose per-key fanout is cap-bounded at
    max_docs_per_fp^2) and re-group on the pair.
    """
    from pyspark.sql import Window

    if min_shared < 1 or max_docs_per_fp < 2:
        raise ValueError(
            f"need min_shared >= 1, max_docs_per_fp >= 2: {min_shared}, {max_docs_per_fp}"
        )
    # per-doc DISTINCT fp hashes computed INSIDE the selection array —
    # a map-side array_distinct instead of a corpus-sized (doc, fp)
    # shuffle (the exploded-then-.distinct() shape cost a full extra
    # exchange of the posting relation; removing it cut the 64x scale
    # cell's tail, BENCH_SCALE_R11_WINNOW.json)
    withk, sel = _winnow_selected_keys(docs, k, w, id_col, text_col)
    fps = F.array_distinct(F.transform(sel, lambda key: F.shiftright(key, 12)))
    posts = withk.select("__id", F.explode(fps).alias("fp"))
    cnt = Window.partitionBy("fp")
    ok = (
        posts.withColumn("__n", F.count("*").over(cnt))
        .where(F.col("__n") <= max_docs_per_fp)
        .drop("__n")
    )
    a = ok.select(F.col("__id").alias("doc_a"), "fp")
    b = ok.select(F.col("__id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    key_chars: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez & Stolfo 1995 — the
    merge/purge blocking family): sort the corpus ONCE by a cheap
    blocking key (here the lowercased first ``key_chars`` chars of the
    text), then compare each record only to its ``window`` successors
    in the sorted order. The third classic blocking strategy next to
    the repo's hash blocking (exact/CDC) and LSH banding (MinHash/
    SimHash/pHash): O(n·w) candidate pairs with NO hash-collision
    tuning, catching near-dups whose edits preserve the sort-key
    prefix (truncated/suffix-edited copies).

    Each candidate pair is verified exactly: distinct-token-set
    intersection and union sizes, and an ``is_dup`` flag at Jaccard
    >= 0.5 decided by integer cross-multiply (2·|A∩B| >= |A∪B|) — no
    float threshold to diverge cross-engine. Returns
    ``(doc_a, doc_b, gap INT, inter_tokens BIGINT, union_tokens
    BIGINT, is_dup BOOLEAN)`` where doc_a precedes doc_b in sort
    order and gap = rank distance (1..window).

    Scale shape: the global sort order comes from the distributed
    rank operator (repartitionByRange + per-partition offsets —
    operators/rank.global_rank, NOT a single-partition ROW_NUMBER);
    neighborhood pairing is an EQUI-join — the left side explodes
    each row into ``window`` (rank + delta) probes — so there is no
    band/range join and no skew beyond the w-fold map-side fanout;
    set verification is per-pair codegen array arithmetic on the
    n·w candidate relation.
    """
    from .rank import global_rank

    if window < 1 or key_chars < 1:
        raise ValueError(f"need window >= 1, key_chars >= 1: {window}, {key_chars}")
    d = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.lower(F.substring(text_col, 1, key_chars)).alias("__bkey"),
        F.array_distinct(F.split(text_col, " ")).alias("__ts"),
    )
    ranked = global_rank(d, "__bkey", "__id", rank_col="__rnk")
    left = ranked.select(
        F.col("__id").alias("doc_a"),
        F.col("__ts").alias("__ts_a"),
        F.col("__rnk").alias("__rnk_a"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("gap"),
    ).withColumn("__rnk_b", F.col("__rnk_a") + F.col("gap"))
    right = ranked.select(
        F.col("__id").alias("doc_b"),
        F.col("__ts").alias("__ts_b"),
        F.col("__rnk").alias("__rnk_b"),
    )
    inter = F.size(F.array_intersect("__ts_a", "__ts_b")).cast("bigint")
    uni = F.size(F.array_union("__ts_a", "__ts_b")).cast("bigint")
    return (
        left.join(right, "__rnk_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("gap").cast("int").alias("gap"),
            inter.alias("inter_tokens"),
            uni.alias("union_tokens"),
        )
        .withColumn("is_dup", F.col("inter_tokens") * 2 >= F.col("union_tokens"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.9,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment near-dup (Broder's containment
    coefficient): directional pairs where ``|A ∩ B| / |A| >=
    threshold`` — the quote/subset detector symmetric Jaccard
    structurally misses. A short document fully quoted inside a long
    one has containment 1.0 while its Jaccard can sit arbitrarily
    low (|A|/|B| in the subset case) — on the fixture's prefix-
    truncated near-dups the copy's shingle set is a SUBSET of the
    original's, so copy->original containment is exactly 1.0 where
    the symmetric entries report ~the kept fraction (test-pinned).

    Returns directional rows ``(doc_src, doc_dst, inter_shingles,
    n_src, n_dst, containment)`` with doc_src != doc_dst; the gate is
    decided by integer cross-multiply (inter * SCALE >= n_src *
    round(threshold * SCALE)), never a float compare; the reported
    ratio is the raw IEEE division.

    Scale shape: shares the inverted-index discipline of
    :func:`ngram_jaccard_pairs` — one shingle-keyed exchange, the
    optional ``max_shingle_doc_freq`` window cap rides the SAME
    exchange (hot-shingle d^2 mitigation), and pair volume is the
    candidate relation's. Like the Jaccard verifier it is quadratic
    in the worst case: at 100 TB run it on LSH candidates, not the
    cross product.
    """
    if not (0 < threshold <= 1):
        raise ValueError(f"need 0 < threshold <= 1: {threshold}")
    scale = 1000
    thr_i = int(round(threshold * scale))
    # r14 optimization (guide §2.5 input skew): the shingle build is
    # an interpreted HOF transform per token — spread() the doc rows
    # first so it runs at full parallelism instead of the scan's few
    # skewed splits; the exploded shingles feed a shuffle either way.
    sh = spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias(
            "shingle"
        ),
    )
    if max_shingle_doc_freq is not None:
        from pyspark.sql import Window

        sh = (
            sh.withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
            .where(F.col("_df") <= max_shingle_doc_freq)
            .drop("_df")
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_src"), F.col("b.doc_id").alias("doc_dst")
        )
        .agg(F.count("*").cast("bigint").alias("inter_shingles"))
    )
    ssrc = sizes.select(F.col("doc_id").alias("doc_src"), F.col("n_sh").alias("n_src"))
    sdst = sizes.select(F.col("doc_id").alias("doc_dst"), F.col("n_sh").alias("n_dst"))
    return (
        inter.join(ssrc, "doc_src")
        .join(sdst, "doc_dst")
        .where(F.col("inter_shingles") * scale >= F.col("n_src") * thr_i)
        .select(
            "doc_src",
            "doc_dst",
            "inter_shingles",
            F.col("n_src").cast("bigint").alias("n_src"),
            F.col("n_dst").cast("bigint").alias("n_dst"),
            (F.col("inter_shingles").cast("double") / F.col("n_src")).alias(
                "containment"
            ),
        )
    )
