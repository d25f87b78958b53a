"""Catalog entries authored from round 8 on.

An ordinary category module: its entries rank like any other, by the
committed pin ``window_snapshot.json`` (composed by
``tools/window_plan.py``) and then registration order.

Every entry here is full-oracle and pre-verified locally at sf0.01
AND sf0.1 before commit (tests/test_catalog_oracle.py covers them via
the registry like any other entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# One cached relation per named slot: builders that persist a shared
# intermediate (the pHash signature relation) register it here, and the
# NEXT build of the same slot unpersists the previous occupant — so a
# 210-entry sweep (or repeated builds in one session) holds at most one
# cached relation per slot instead of leaking one per call (ADVICE r9).
# Contract: a slot's previous DataFrame stays CORRECT after eviction
# (it silently recomputes), it just loses the cache — callers that
# interleave two builds of the same entry pay recompute, never wrongness.
_PERSIST_SLOTS: dict[str, DataFrame] = {}


def _slot_persist(name: str, df: DataFrame) -> DataFrame:
    prev = _PERSIST_SLOTS.pop(name, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # owning session already stopped — nothing to release
    out = df.persist()
    _PERSIST_SLOTS[name] = out
    return out


# Shared oracle CTE blocks: the semdedup pair relation and the gopher
# rule table are consumed both by their own entries and by the
# end-to-end funnel entry — ONE SQL text for each, so the composed
# oracle can never drift from the per-stage oracles.

# -> ranked/cent0/dst/a0 (portable k=8 assignment), nrm, e, prs
#    (within-cluster exact-cosine pairs); consumers add their tail
_SEMDEDUP_CTES = """
    ranked AS (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
    ),
    cent0 AS (SELECT CAST(rn - 1 AS INT) AS c, embedding AS ce
              FROM ranked WHERE rn <= 8),
    dst AS (
        SELECT v.vec_id, c.c,
               CAST(SUM(CAST(ROUND(
                   (CAST(v.embedding[g.i] AS DOUBLE) - CAST(c.ce[g.i] AS DOUBLE))
                 * (CAST(v.embedding[g.i] AS DOUBLE) - CAST(c.ce[g.i] AS DOUBLE))
                 * 1e12) AS BIGINT)) AS BIGINT) AS dist_i
        FROM embeddings v, cent0 c, generate_series(1, 64) AS g(i)
        GROUP BY v.vec_id, c.c
    ),
    a0 AS (
        SELECT vec_id, c AS cluster FROM (
            SELECT vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist_i, c) AS rn
            FROM dst
        ) WHERE rn = 1
    ),
    nrm AS (
        SELECT em.vec_id,
               sqrt(CAST(SUM(CAST(ROUND(
                   CAST(em.embedding[g.i] AS DOUBLE)
                 * CAST(em.embedding[g.i] AS DOUBLE) * 1e12) AS BIGINT))
                 AS BIGINT) / 1e12) AS nrm
        FROM embeddings em, generate_series(1, 64) AS g(i)
        GROUP BY em.vec_id
    ),
    e AS (SELECT a0.vec_id, a0.cluster, em.embedding, n.nrm
          FROM a0 JOIN embeddings em USING (vec_id)
                  JOIN nrm n USING (vec_id)),
    prs AS (
        SELECT b.vec_id AS bid, a.vec_id AS lower_id,
               (CAST(SUM(CAST(ROUND(
                    CAST(a.embedding[g.i] AS DOUBLE)
                  * CAST(b.embedding[g.i] AS DOUBLE) * 1e12) AS BIGINT))
                  AS BIGINT) / 1e12) / (a.nrm * b.nrm) AS sim
        FROM e a JOIN e b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id,
             generate_series(1, 64) AS g(i)
        GROUP BY b.vec_id, a.vec_id, a.nrm, b.nrm
    )"""

_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS) + "]"

# -> feat, rules (per-doc boolean rule flags); consumers add their tail
_GOPHER_CTES = f"""
    feat AS (
        SELECT doc_id,
               string_split(text, ' ') AS ws,
               string_split(text, chr(10)) AS ls,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
               CAST(len(replace(text, ' ', '')) AS BIGINT) AS nch,
               CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS nhash,
               CAST(len(text) - len(replace(text, '...', '')) AS BIGINT) AS nell3
        FROM documents
    ),
    rules AS (
        SELECT doc_id, nw,
               nw >= 50 AND nw <= 100000 AS r_word_count,
               3 * nw <= nch AND nch <= 10 * nw AS r_mean_word_len,
               10 * (3 * nhash + nell3) <= 3 * nw AS r_symbol_ratio,
               10 * CAST(len(list_filter(ls,
                   l -> l LIKE '-%' OR l LIKE '*%')) AS BIGINT)
                   <= CAST(len(ls) AS BIGINT) AS r_bullet,
               10 * CAST(len(list_filter(ls,
                   l -> l LIKE '%...')) AS BIGINT)
                   <= 3 * CAST(len(ls) AS BIGINT) AS r_ellipsis,
               5 * CAST(len(list_filter(ws,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
                   >= 4 * nw AS r_alpha_words,
               CAST(len(list_filter({_GOPHER_STOP_SQL},
                   s -> list_contains(ws, s))) AS BIGINT) >= 2 AS r_stopwords
        FROM feat
    )"""

_GOPHER_PASS = (
    "r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet "
    "AND r_ellipsis AND r_alpha_words AND r_stopwords"
)

_GOPHER_N_PASSED = (
    "CAST(r_word_count AS BIGINT) + CAST(r_mean_word_len AS BIGINT) "
    "+ CAST(r_symbol_ratio AS BIGINT) + CAST(r_bullet AS BIGINT) "
    "+ CAST(r_ellipsis AS BIGINT) + CAST(r_alpha_words AS BIGINT) "
    "+ CAST(r_stopwords AS BIGINT)"
)


@register(
    "semdedup_embeddings",
    f"""
    WITH {_SEMDEDUP_CTES},
    dups AS (
        SELECT bid, lower_id, ROUND(sim, 3) AS score FROM (
            SELECT bid, lower_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY bid
                                      ORDER BY lower_id) AS rn
            FROM prs WHERE sim >= 0.3
        ) WHERE rn = 1
    )
    SELECT e.vec_id, e.cluster,
           d.lower_id IS NULL AS keep, d.lower_id AS dup_of, d.score
    FROM e LEFT JOIN dups d ON e.vec_id = d.bid
    """,
    "SemDeDup (Abbas et al. 2023) under the hash gate: semantic "
    "near-dedup whose pairwise-cosine work is bounded by a k-means "
    "partition (k=8, eps=0.30) instead of the corpus — THE published "
    "recipe for embedding-level dedup at LAION/web scale, composing "
    "two already-verified kernels (clustering._portable_cluster_col "
    "md5-seeded exact scaled-int assignment + vectors.dot_exact "
    "cosine). Drop rule: a vector dies iff a LOWER-id cluster-mate's "
    "UNROUNDED exact cosine clears eps; dup_of = the smallest such id "
    "(deterministic keep-lowest-id; the paper's keep-farthest-from-"
    "centroid runs as catalog:semdedup_centroid_far on the same pair "
    "relation). Scale "
    "shape: map-only assignment (k x d literal), ONE cluster-keyed "
    "shuffle per side, pair work sum_c n_c^2 with k chosen so "
    "clusters hold ~1-10k vectors. Full oracle: the kmeans_portable "
    "assignment CTEs composed with within-cluster exact-cosine pair "
    "SQL.",
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    # arrow path: bit-identical to the expression fold (pinned by
    # test_semdedup_arrow_bit_identical), 6x at sf0.1
    return semdedup(emb, k=8, eps=0.3, use_arrow=True)


@register(
    "semdedup_centroid_far",
    f"""
    WITH {_SEMDEDUP_CTES},
    d2 AS (SELECT vec_id, MIN(dist_i) AS d2s FROM dst GROUP BY vec_id),
    prs2 AS (
        SELECT CASE WHEN da.d2s < db.d2s THEN p.lower_id ELSE p.bid END AS vid,
               CASE WHEN da.d2s < db.d2s THEN p.bid ELSE p.lower_id END AS mate,
               p.sim
        FROM prs p
        JOIN d2 da ON da.vec_id = p.lower_id
        JOIN d2 db ON db.vec_id = p.bid
    ),
    dups AS (
        SELECT vid, mate, ROUND(sim, 3) AS score FROM (
            SELECT vid, mate, sim,
                   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY mate) AS rn
            FROM prs2 WHERE sim >= 0.3
        ) WHERE rn = 1
    )
    SELECT e.vec_id, e.cluster,
           d.mate IS NULL AS keep, d.mate AS dup_of, d.score
    FROM e LEFT JOIN dups d ON e.vec_id = d.vid
    """,
    "SemDeDup with the PAPER's keep rule (Abbas et al. 2023 keep the "
    "cluster-edge representative): within every eps-pair the member "
    "CLOSER to its cluster centroid dies, decided on the EXACT "
    "scaled-int distances (ties kill the higher id), so dup_of can "
    "be a higher-id survivor. Same pair relation, assignment and "
    "Arrow kernels as semdedup_embeddings — the two entries "
    "hash-pin that ONLY the keep rule differs. The Arrow path's "
    "tiebreak reads the kernel's EXACT int64 scaled distance (the "
    "d2s field assign_clusters_arrow emits alongside the cluster "
    "id) — NOT a dist2*1e12 double round-trip, which could collapse "
    "distinct bigints past 2^53 (pinned bit-identical in "
    "tests/test_north_star.py). Scale shape identical: map-only "
    "assignment, ONE cluster-keyed shuffle per side, pair work "
    "sum_c n_c^2. Full oracle: the shared pair CTEs joined to the "
    "per-vector min scaled distance with a CASE victim/mate swap.",
)
def semdedup_centroid_far(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, eps=0.3, use_arrow=True, keep_rule="centroid_far")


# Shared ExactSubstr CTE block (same one-text discipline as
# _SEMDEDUP_CTES): toks -> duplicated-gram victims -> merged removed
# runs, consumed by both the stats and the cleaned-text entries so
# their removal sets can never drift.
_EXACTSUBSTR_CTES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    grams AS (
        SELECT doc_id, g.i AS s,
               md5(array_to_string(ts[g.i:g.i+9], ' ')) AS gk
        FROM toks, range(1, 100001) AS g(i)
        WHERE g.i + 9 <= len(ts)
    ),
    occ AS (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY gk ORDER BY doc_id, s) AS rn
        FROM grams
    ),
    victims AS (SELECT doc_id, s, s + 9 AS e FROM occ WHERE rn > 1),
    marked AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) + 1
                    THEN 1 ELSE 0 END AS ni
        FROM victims
    ),
    islands AS (
        SELECT doc_id, s, e,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS isl
        FROM marked
    ),
    runs AS (
        SELECT doc_id, isl, MIN(s) AS rs, MAX(e) AS re
        FROM islands GROUP BY doc_id, isl
    )"""


@register(
    "exact_substring_dedup",
    f"""
    WITH {_EXACTSUBSTR_CTES},
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_spans_removed,
               CAST(SUM(re - rs + 1) AS BIGINT) AS n_tokens_removed
        FROM runs GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           COALESCE(p.n_spans_removed, 0) AS n_spans_removed,
           CAST(COALESCE(p.n_tokens_removed, 0) AS BIGINT) AS n_tokens_removed,
           CAST(len(t.ts) - COALESCE(p.n_tokens_removed, 0) AS BIGINT)
               AS n_tokens_kept
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
    "ExactSubstr dedup (Lee et al. 2021 'Deduplicating Training Data "
    "Makes Language Models Better'): remove duplicated SPANS, not "
    "documents — the sub-document tier the exact/minhash/simhash/"
    "semantic family misses (boilerplate, licence headers, quoted "
    "passages). Every overlapping 10-gram occurring >= 2 times "
    "corpus-wide marks its token span for removal at every occurrence "
    "but the globally-first (keeper = smallest (doc, start)); per-doc "
    "spans merge into maximal runs via gaps-and-islands on exact "
    "integer positions. The paper's single-machine suffix array "
    "becomes a distributed inverted index: the corpus-sized gram "
    "relation shuffles ONCE on the 128-bit md5 digest (constant-width "
    "keys, not k-word strings), only the duplicated occurrences "
    "shuffle back for the per-doc island window, nothing quadratic, "
    "no driver state. Full oracle: the same gram/keeper/island SQL "
    "over the same md5 digests (oracle docs capped at 100k tokens by "
    "the repo-wide range(1,100001) pattern — fixture max ~100; the "
    "Spark side has no cap).",
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_substring_dedup as esd

    return esd(_t(spark, sf_dir, "documents"), k=10)


@register(
    "exact_substring_clean",
    f"""
    WITH {_EXACTSUBSTR_CTES},
    kept AS (
        SELECT t.doc_id, g.i AS pos, t.ts[g.i] AS tok
        FROM toks t, range(1, 100001) AS g(i)
        WHERE g.i <= len(t.ts)
          AND NOT EXISTS (SELECT 1 FROM runs r
                          WHERE r.doc_id = t.doc_id
                            AND g.i BETWEEN r.rs AND r.re)
    ),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_kept,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(a.n_tokens_kept, 0) AS n_tokens_kept,
           COALESCE(a.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "The materializing half of ExactSubstr dedup: the CLEANED corpus "
    "itself — every token inside a removed run deleted, survivors "
    "re-joined in order — so span dedup actually feeds the next "
    "pipeline stage (packing, tokenization) instead of only "
    "reporting counts. The oracle hash covers the full cleaned TEXT "
    "of every document, the strongest possible pin on the removal "
    "semantics; removal sets are shared with exact_substring_dedup "
    "by construction (one runs relation in Spark, one CTE text in "
    "SQL) and the two entries' n_tokens_kept columns are "
    "equality-tested in-suite. Scale shape: the per-doc runs array "
    "(a few rows per AFFECTED doc only) joins back to the corpus — "
    "broadcast at sane duplication rates; the per-token keep test is "
    "an exists over that tiny array inside codegen, no UDF, no "
    "second corpus shuffle.",
)
def exact_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_substring_clean as esc

    return esc(_t(spark, sf_dir, "documents"), k=10)


@register(
    "gopher_quality_rules",
    f"""
    WITH {_GOPHER_CTES}
    SELECT doc_id, nw AS n_words, r_word_count, r_mean_word_len,
           r_symbol_ratio, r_bullet, r_ellipsis, r_alpha_words, r_stopwords,
           {_GOPHER_N_PASSED} AS n_rules_passed,
           {_GOPHER_PASS} AS passes_gopher
    FROM rules
    """,
    "The Gopher quality-filter rule set (Rae et al. 2021, App. A1.1) "
    "as one map-only pass — the heuristic gate most LLM curation "
    "pipelines (Gopher, RefinedWeb, Dolma, FineWeb) run before any "
    "model-based filter: word count in [50, 100k], mean word length "
    "in [3, 10], symbol-to-word ratio (# / ellipsis) <= 0.1, <=10% "
    "bullet lines, <=30% ellipsis-ending lines, >=80% words with an "
    "alphabetic char, >=2 of 8 English stopwords present. EVERY rule "
    "is an exact integer-multiply comparison (no float division "
    "anywhere — e.g. mean-word-length in [3,10] is 3*nw <= nch <= "
    "10*nw, and the ellipsis count stays in its x3 form), so the "
    "per-doc flag table is bit-portable to any engine. Scale shape: "
    "zero shuffles — pure narrow projection that fuses into whatever "
    "scan precedes it; at 100 TB this gate costs one codegen stage "
    "riding the ingest read.",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


# Shared DSIR CTE block (one-text discipline): hashed-ngram bucket
# ratios -> per-doc importance weights, consumed by the weights entry
# AND the resampling entry so the two stages can never drift.
_DSIR_CTES = """
    w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
               FROM documents),
    feats AS (
        SELECT doc_id, lang, unnest(ws) AS f FROM w
        UNION ALL
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS f
        FROM w
    ),
    fb AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
        FROM feats
    ),
    cnt AS (
        SELECT b, COUNT(*) AS rc, COUNT(*) FILTER (lang = 'en') AS tc
        FROM fb GROUP BY b
    ),
    ratio AS (
        SELECT b, (1000000 * (tc + 1)) // (rc + 1) AS ratio FROM cnt
    ),
    dsir AS (
        SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(ratio) AS BIGINT) AS score_scaled
        FROM fb JOIN ratio USING (b)
        GROUP BY fb.doc_id
    )"""


@register(
    "dsir_importance_weights",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_feats, score_scaled FROM dsir
    """,
    "DSIR importance weights (Xie et al. 2023, Data Selection via "
    "Importance Resampling): score every corpus document by how "
    "target-like its hashed n-gram profile is — the published recipe "
    "for picking in-domain pretraining data out of a raw 100 TB "
    "crawl. Features are unigrams + bigrams hashed into 1024 md5 "
    "buckets; the target (here lang='en' as the in-domain proxy) and "
    "raw bucket counts come from ONE exploded scan (count + filtered "
    "count in the same B-sized groupBy); per-doc score = sum over "
    "feature occurrences of the add-1-smoothed target/raw ratio as an "
    "EXACT scaled integer ((1e6*(tc+1)) div (rc+1) — integer div is "
    "engine-portable where IEEE log is not; the paper's log-ratio sum "
    "is the same selection signal through a monotone per-feature map "
    "and drops in via one expression swap when hash-portability is "
    "not required). Scale shape: two corpus scans (counts, then "
    "scores — DSIR's own two passes), a bounded B-sized count "
    "aggregate that BROADCASTS back, and one doc-keyed exchange for "
    "the final per-doc sum.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )


@register(
    "bloom_novelty_docs",
    """
    WITH ref AS (
        SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 7 = 0
    ),
    rp AS (
        SELECT DISTINCT
               ('0x' || substr(md5(dg || '-' || CAST(g.j AS VARCHAR)), 1, 8))
                   ::BIGINT % 16384 AS p
        FROM ref, generate_series(1, 4) AS g(j)
    ),
    probe AS (SELECT doc_id, md5(text) AS dg FROM documents),
    pp AS (
        SELECT doc_id, dg,
               bool_and(
                   ('0x' || substr(md5(dg || '-' || CAST(g.j AS VARCHAR)), 1, 8))
                       ::BIGINT % 16384 IN (SELECT p FROM rp)) AS bloom_hit
        FROM probe, generate_series(1, 4) AS g(j)
        GROUP BY doc_id, dg
    )
    SELECT doc_id, bloom_hit,
           dg IN (SELECT dg FROM ref) AS exact_dup
    FROM pp
    """,
    "Deterministic Bloom-filter novelty scan: 'was this content in "
    "the last snapshot?' answered WITHOUT joining the probe corpus "
    "against the reference — the membership primitive an incremental "
    "recrawl pipeline runs before paying any dedup shuffle. The "
    "reference side (doc_id % 7 = 0 as the prior snapshot) builds an "
    "m=16384-bit / k=4 filter from md5-derived positions; the filter "
    "state is O(m) — the DISTINCT positions collect to the driver "
    "and ride the probe plan as a bitmap literal, so the probe is "
    "map-only: k substring lookups per row, zero shuffles. Because "
    "every hash is md5-of-string, even the FALSE POSITIVES are "
    "deterministic — the oracle hash-pins the exact FP set next to "
    "the exact_dup ground truth (computed via a broadcast digest "
    "semi-join kept ONLY to measure FPR; production runs the bloom "
    "without it). No-false-negative is a tested invariant "
    "(tests/test_north_star.py).",
)
def bloom_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import bloom_membership

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 7 == 0)
    return bloom_membership(ref, d, m=16384, k=4)


@register(
    "curation_funnel_report",
    f"""
    WITH {_SEMDEDUP_CTES},
    dropped AS (SELECT DISTINCT bid FROM prs WHERE sim >= 0.3),
    {_GOPHER_CTES},
    g AS (SELECT doc_id, {_GOPHER_N_PASSED} >= 6 AS passes_gate FROM rules),
    keeper AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
        FROM documents
    ),
    j AS (
        SELECT d.doc_id, g.passes_gate, k.is_keeper,
               dr.bid IS NULL AS sd_keep
        FROM documents d
        JOIN g USING (doc_id)
        JOIN keeper k USING (doc_id)
        LEFT JOIN dropped dr ON d.doc_id = dr.bid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(*) FILTER (passes_gate) AS BIGINT) AS n_after_gopher,
           CAST(COUNT(*) FILTER (passes_gate AND is_keeper) AS BIGINT)
               AS n_after_exact_dedup,
           CAST(COUNT(*) FILTER (passes_gate AND is_keeper AND sd_keep)
               AS BIGINT) AS n_after_semdedup
    FROM j
    """,
    "The dataset-card funnel, hash-checked END TO END: how many "
    "documents survive each curation stage — raw -> Gopher heuristic "
    "gate -> exact dedup (keep-min-id per content digest) -> SemDeDup "
    "semantic dedup. This is the composition a curation team actually "
    "ships next to a training mix, and the first number a reviewer "
    "asks for; here every stage is the SAME verified operator the "
    "standalone entries run (gopher_rules, the md5-digest keeper "
    "window, operators.dedup.semdedup), and the oracle is assembled "
    "from the SAME shared CTE texts (_SEMDEDUP_CTES / _GOPHER_CTES), "
    "so the funnel can never drift from its stages. Scale shape: the "
    "gopher flags fuse into the scan, the keeper window is one "
    "digest-keyed exchange (16-byte keys), semdedup contributes its "
    "cluster-bounded pair join, and the final count is a 1-row "
    "aggregate — no stage adds a corpus-sized collect.",
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import gopher_rules
    from ..operators.dedup import semdedup

    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    g = gopher_rules(d).select(
        "doc_id", (F.col("n_rules_passed") >= 6).alias("passes_gate")
    )
    sd = semdedup(emb, k=8, eps=0.3, use_arrow=True).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("sd_keep")
    )
    base = d.select("doc_id", F.md5("text").alias("__dg")).withColumn(
        "is_keeper",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("__dg")),
    )
    j = (
        base.join(g, "doc_id")
        .join(sd, "doc_id", "left")
        .withColumn("sd_keep", F.coalesce("sd_keep", F.lit(True)))
    )
    return j.agg(
        F.count("*").alias("n_raw"),
        F.count_if("passes_gate").alias("n_after_gopher"),
        F.count_if(F.col("passes_gate") & F.col("is_keeper")).alias(
            "n_after_exact_dedup"
        ),
        F.count_if(
            F.col("passes_gate") & F.col("is_keeper") & F.col("sd_keep")
        ).alias("n_after_semdedup"),
    )


@register(
    "unimax_lang_allocation",
    """
    WITH toks AS (
        SELECT lang AS grp,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS T, COUNT(*) AS G
            FROM toks),
    ranked AS (
        SELECT grp, n_tokens, n_tokens * 1 AS cap_tokens, T, G,
               CAST((T * 4) // 5 AS BIGINT) AS B,
               ROW_NUMBER() OVER (ORDER BY n_tokens * 1, grp) AS i,
               COALESCE(CAST(SUM(n_tokens * 1) OVER (
                   ORDER BY n_tokens * 1, grp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS prefix
        FROM toks, tot
    ),
    flagged AS (
        SELECT *, cap_tokens * (G - i + 1) + prefix <= B AS capped
        FROM ranked
    ),
    spent AS (
        SELECT COALESCE(CAST(SUM(cap_tokens) FILTER (capped) AS BIGINT), 0)
                   AS S,
               COUNT(*) FILTER (capped) AS C
        FROM flagged
    )
    SELECT grp AS lang, n_tokens, cap_tokens, capped,
           CAST(CASE WHEN capped THEN cap_tokens
                ELSE (B - S) // (G - C) END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN capped THEN cap_tokens
                ELSE (B - S) // (G - C) END AS BIGINT)
               / CAST(n_tokens AS DOUBLE) AS alloc_epochs
    FROM flagged, spent
    """,
    "UniMax budget allocation (Chung et al. 2023): distribute a token "
    "budget (80% of the corpus here) across languages as equally as "
    "possible with every language capped at 1 epoch of its own data — "
    "the published successor to temperature sampling for multilingual "
    "mixes (tail languages never over-repeat; the head language "
    "absorbs the remainder). The water-filling solution is a pure "
    "window-function waterfall over the G-row per-lang token counts: "
    "rank by capacity ascending, a group is capped iff granting every "
    "group from its rank up full capacity still fits the remaining "
    "budget (the anti-monotone crossover), uncapped groups split the "
    "leftover via exact integer div. ONE corpus scan feeds the "
    "lang-keyed count; everything after runs on G rows (two 1-row "
    "broadcast joins + one G-row window). All integers except the "
    "single IEEE division reported as alloc_epochs.",
)
def unimax_lang_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import unimax_allocation

    return unimax_allocation(
        _t(spark, sf_dir, "documents"),
        epoch_cap=1,
        budget_num=4,
        budget_den=5,
    )


@register(
    "stupid_backoff_score",
    """
    WITH ts AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    prs AS (
        SELECT doc_id, t[g.i] AS a, t[g.i+1] AS b
        FROM ts, range(1, 100001) AS g(i)
        WHERE g.i <= len(t) - 1
    ),
    tr AS (SELECT * FROM prs WHERE doc_id % 3 != 0),
    c2 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM tr GROUP BY a, b),
    c1 AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM tr GROUP BY a),
    uni AS (
        SELECT u.w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
            SELECT unnest(t) AS w FROM ts WHERE doc_id % 3 != 0
        ) u GROUP BY u.w
    ),
    tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS N FROM uni),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN c2.cab IS NOT NULL
                    THEN CAST(ROUND(1e12 * c2.cab / c1.ca) AS BIGINT)
                    ELSE CAST(ROUND(4e11 * COALESCE(uni.cw, 0) / tot.N)
                              AS BIGINT) END AS s,
               CASE WHEN c2.cab IS NULL THEN 1 ELSE 0 END AS backed
        FROM prs p
        LEFT JOIN c2 ON p.a = c2.a AND p.b = c2.b
        LEFT JOIN c1 ON p.a = c1.a
        LEFT JOIN uni ON p.b = uni.w
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(backed) AS BIGINT) AS n_backoff,
           CAST(SUM(s) AS BIGINT) AS score_scaled
    FROM scored GROUP BY doc_id
    """,
    "Stupid Backoff LM scoring (Brants et al. 2007, 'Large Language "
    "Models in Machine Translation') — THE distributed-scale LM "
    "smoothing: S(b|a) = c(a,b)/c(a) when the bigram was seen, else "
    "0.4 * c(b)/N, deliberately unnormalized because exact "
    "normalization is what makes Kneser-Ney impractical at trillions "
    "of tokens. Model trained on 2/3 of the corpus (doc_id % 3 != 0) "
    "and scored over ALL docs, so held-out docs exercise the backoff "
    "path (a self-trained model never would — every bigram would be "
    "seen). Per-occurrence scores accumulate as EXACT scaled ints "
    "(round(1e12*cab/ca), round(4e11*cw/N) — single IEEE divisions, "
    "no log), with n_backoff as the per-doc novelty diagnostic. "
    "Scale shape: model tables are vocab/bigram-vocab-sized "
    "(Heaps-sublinear -> broadcast or word-bucket join); the "
    "corpus-sized pairs relation left-joins model and unigram tables "
    "once each; same oracle-only 100k-token range bound as "
    "bigram_lm_score.",
)
def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ts = d.select("doc_id", F.split("text", " ").alias("t"))
    pairs = (
        ts.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("a"),
                        F.element_at(F.col("t"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    train_pairs = pairs.where(F.col("doc_id") % 3 != 0)
    c2 = train_pairs.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("cab")
    )
    c1 = train_pairs.groupBy("a").agg(F.count("*").cast("bigint").alias("ca"))
    uni = (
        ts.where(F.col("doc_id") % 3 != 0)
        .select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cw"))
    )
    tot = uni.agg(F.sum("cw").alias("N"))
    # model assembled small-x-small FIRST (the bigram_lm_score lesson):
    # the corpus-sized pairs relation joins the finished tables once
    model = c2.join(c1, "a")
    scored = (
        pairs.join(model, ["a", "b"], "left")
        .join(uni.withColumnRenamed("w", "b"), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(
                F.col("cab").isNotNull(),
                F.round(F.lit(1e12) * F.col("cab") / F.col("ca")).cast("bigint"),
            )
            .otherwise(
                F.round(
                    F.lit(4e11) * F.coalesce(F.col("cw"), F.lit(0)) / F.col("N")
                ).cast("bigint")
            )
            .alias("s"),
            F.col("cab").isNull().cast("int").alias("backed"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("backed").cast("bigint").alias("n_backoff"),
        F.sum("s").alias("score_scaled"),
    )


_CM_W, _CM_D = 32, 4  # width x depth; 97 items over 32 cols -> collisions
# guaranteed, so the entry demonstrably exercises the overestimate side

# The CountMin algebra itself moved to operators/incremental.py in r9
# (ROADMAP 0b / VERDICT r8 item 3): long-form accumulate/merge/estimate
# plus the dense cm:<w>x<d> StateCol spec. Imported here so the entry
# below stays bit-identical to its r8-staged form.
from ..operators.incremental import cm_accumulate, cm_estimate, cm_merge  # noqa: E402


_CM_BIN_SQL = (
    "CAST(({j} - 1) * 32 AS BIGINT) + "
    "(('0x' || substr(md5(item || '-{j}'), 1, 8))::BIGINT % 32)"
)

_CM_BINS_UNION = " UNION ALL ".join(
    f"SELECT grp, item, {_CM_BIN_SQL.format(j=j)} AS bin FROM base"
    for j in range(1, 5)
)

_CM_BINS_ROWS = " UNION ALL ".join(
    f"SELECT grp, o_orderkey, {_CM_BIN_SQL.format(j=j)} AS bin FROM base"
    for j in range(1, 5)
)


# Shared CountMin oracle (one-text discipline): the long-form entry
# and the dense cm:<w>x<d> StateCol entry produce IDENTICAL estimates
# (same md5 bins, counters add either way), so they share this SQL.
_CM_ORACLE = f"""
    WITH base AS (
        SELECT o_orderpriority AS grp,
               CAST(o_custkey % 97 AS VARCHAR) AS item,
               o_orderkey
        FROM orders
    ),
    binned AS ({_CM_BINS_ROWS}),
    hist AS (
        SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned WHERE o_orderkey % 10 != 0 GROUP BY grp, bin
    ),
    delta AS (
        SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned WHERE o_orderkey % 10 = 0 GROUP BY grp, bin
    ),
    state AS (
        SELECT grp, bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
            SELECT * FROM hist UNION ALL SELECT * FROM delta
        ) GROUP BY grp, bin
    ),
    probes AS (SELECT DISTINCT grp, item FROM base),
    pb AS ({_CM_BINS_UNION.replace("FROM base", "FROM probes")}),
    est AS (
        SELECT pb.grp, pb.item,
               CAST(MIN(COALESCE(state.cnt, 0)) AS BIGINT) AS cm_estimate
        FROM pb LEFT JOIN state ON pb.grp = state.grp AND pb.bin = state.bin
        GROUP BY pb.grp, pb.item
    ),
    exact AS (
        SELECT grp, item, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM base GROUP BY grp, item
    )
    SELECT est.grp AS o_orderpriority, est.item, est.cm_estimate,
           exact.exact_count
    FROM est JOIN exact ON est.grp = exact.grp AND est.item = exact.item
    """


@register(
    "countmin_mv_orders",
    _CM_ORACLE,
    "CountMin sketch as a mergeable-MV algebra — the frequency-sketch "
    "member that completes the family next to hll (distinct), topk "
    "(order statistics), fi (heavy hitters), hist (distribution), "
    "set: state = LONG-FORM sparse (group, bin) counters over a "
    "w=32 x d=4 grid (sparse beats a dense array at high group "
    "cardinality; merge = union + re-groupBy SUM, the same "
    "delta-cost relational merge as the rest of the family). "
    "History (90%% of orders) is sketched once, the delta batch "
    "merges at delta cost, and point queries read min over d "
    "md5-derived counters. Because the hashes are md5-portable, even "
    "the COLLISION-INFLATED estimates are deterministic: the oracle "
    "hash-pins every estimate next to its exact count (97 items over "
    "32 columns force real collisions — the overestimate side is "
    "exercised, and cm_estimate >= exact_count is a tested "
    "invariant). Unified into operators/incremental.py in r9 "
    "(ROADMAP 0b): this entry drives the long-form "
    "cm_accumulate/cm_merge/cm_estimate helpers; the dense "
    "cm:<w>x<d> StateCol spec (element-wise vector add, "
    "cm_accumulate_vec partials, cm_estimate_expr reads) merges "
    "through the same dispatch as count/sum/min/max/hll/topk/set/"
    "hist/fi and is property-tested equal to this long form.",
)
def countmin_mv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_custkey") % 97).cast("string").alias("item"),
        "o_orderkey",
    )
    hist = cm_accumulate(base.where(F.col("o_orderkey") % 10 != 0))
    delta = cm_accumulate(base.where(F.col("o_orderkey") % 10 == 0))
    state = cm_merge(hist, delta)
    probes = base.select("grp", "item").distinct()
    est = cm_estimate(state, probes)
    exact = base.groupBy("grp", "item").agg(
        F.count("*").cast("bigint").alias("exact_count")
    )
    return est.join(exact, ["grp", "item"]).select(
        F.col("grp").alias("o_orderpriority"),
        "item",
        "cm_estimate",
        "exact_count",
    )


# Shared pHash CTE block (same one-text discipline as _SEMDEDUP_CTES):
# byte-stub aHash signatures -> band-LSH candidates -> verified
# Hamming pairs, consumed by the per-doc dedup entry AND the
# connected-components cluster entry so their pair relations can
# never drift.
def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic re-uploads (the duplicated corpus the
    shared _PHASH_CTES oracle mirrors — see the comment there)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies1 = d.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    copies2 = d.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return d.unionByName(copies1).unionByName(copies2)


# The documents fixture carries no byte-identical blobs (verified: zero
# exact text dups and min pairwise aHash Hamming 10 at sf0.01), so the
# pHash entries derive a deterministic DUPLICATED corpus — re-uploads
# of every 25th doc plus a second re-upload of every 50th — modeling
# the actual duplicated-image-upload scenario a perceptual-hash dedup
# exists for: Hamming-0 pairs, 3-member clusters, and dup_of/keep
# decisions are all exercised under the hash gate instead of being
# vacuously NULL.
# the duplicated media corpus CTE — ONE text shared by the pHash
# entries (via _PHASH_CTES) and the audio-fingerprint entry, so the
# corpora can never drift (same discipline as _SEMDEDUP_CTES)
_PHASH_CORPUS_CTE = """corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents
        WHERE doc_id % 50 = 0
    )"""

_PHASH_CTES = f"""
    {_PHASH_CORPUS_CTE},
    ch AS (
        SELECT doc_id, g.i - 1 AS pos,
               unicode(substr(text, CAST(g.i AS INT), 1)) AS v,
               len(text) AS n
        FROM corpus, range(1, 100001) AS g(i)
        WHERE g.i <= len(text)
    ),
    agg AS (
        SELECT doc_id, CAST((pos * 64) // n AS INT) AS b,
               CAST(SUM(v) AS BIGINT) AS sum_b,
               CAST(COUNT(*) AS BIGINT) AS cnt_b
        FROM ch GROUP BY doc_id, (pos * 64) // n
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(v) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ch GROUP BY doc_id
    ),
    ph AS (
        SELECT t.doc_id,
               string_agg(CASE WHEN COALESCE(a.sum_b, 0) * t.n
                                    > t.s * COALESCE(a.cnt_b, 0)
                               THEN '1' ELSE '0' END, '' ORDER BY g.i) AS phash
        FROM tot t
        CROSS JOIN range(0, 64) AS g(i)
        LEFT JOIN agg a ON a.doc_id = t.doc_id AND a.b = g.i
        GROUP BY t.doc_id
    ),
    bands AS (
        SELECT doc_id, phash, g.j AS b,
               substr(phash, CAST(g.j * 16 + 1 AS INT), 16) AS key
        FROM ph, range(0, 4) AS g(j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_lo, b.doc_id AS id_hi
        FROM bands a
        JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    ham AS (
        SELECT c.id_lo, c.id_hi,
               CAST(SUM(CASE WHEN substr(pa.phash, CAST(g.i AS INT), 1)
                              != substr(pb.phash, CAST(g.i AS INT), 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM cand c
        JOIN ph pa ON pa.doc_id = c.id_lo
        JOIN ph pb ON pb.doc_id = c.id_hi,
        range(1, 65) AS g(i)
        GROUP BY c.id_lo, c.id_hi
    )"""


@register(
    "mm_phash_dedup",
    f"""
    WITH {_PHASH_CTES},
    dups AS (
        SELECT id_hi AS doc_id, id_lo AS dup_of, hamming FROM (
            SELECT id_hi, id_lo, hamming,
                   ROW_NUMBER() OVER (PARTITION BY id_hi ORDER BY id_lo) AS rn
            FROM ham WHERE hamming <= 3
        ) WHERE rn = 1
    )
    SELECT p.doc_id, p.phash, d.dup_of IS NULL AS keep, d.dup_of, d.hamming
    FROM ph p LEFT JOIN dups d USING (doc_id)
    """,
    "Perceptual-hash image dedup — the multimodal member of the dedup "
    "family (text: exact/minhash/simhash/exactsubstr; embeddings: "
    "lsh/semdedup; images: THIS). aHash signature per blob "
    "(multimodal.media.ahash_images: 64 equal-span blocks, bit = "
    "block mean > global mean by EXACT integer cross-multiplication) "
    "+ Hamming near-dup pairing (dedup.bitstring_near_dup_pairs: "
    "4x16-bit band LSH, pigeonhole-exact for hamming <= 3, verify "
    "only candidates). Decode step is the byte-identity stub (the "
    "container has no codecs); the PIL path computes the classic "
    "gray-8x8 aHash through the SAME bit rule and is gated like "
    "decode_images. Keep rule: a doc dies iff a LOWER-id doc hashes "
    "within hamming 3; dup_of = the smallest such id. The corpus is "
    "documents + deterministic re-uploads of every 25th/50th doc "
    "(the raw fixture has no byte-identical blobs — min pairwise "
    "aHash Hamming 10 at sf0.01 — so the dup path would otherwise "
    "be vacuously NULL; see the _PHASH_CTES comment). Oracle "
    "portability: fixture text is pure ASCII so DuckDB codepoints == "
    "the kernel's bytes (asserted pure-ASCII at all three SF tiers "
    "before registration). Scale shape: map-only Arrow signature "
    "pass, ONE (band, key) exchange, bucket-bounded candidates, "
    "O(64) verify per candidate — never all-pairs.",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.media import ahash_images
    from ..operators.dedup import bitstring_near_dup_pairs

    d = _phash_corpus(spark, sf_dir)
    blobs = d.select("doc_id", F.encode("text", "UTF-8").alias("data"))
    # slot-persist: the signature relation is consumed three times
    # (both sides of the band self-join + the final doc join); without
    # caching each reference re-runs the Arrow hash kernel over the
    # corpus. At scale the signatures are the materialization point,
    # exactly like the MinHash posting archive. The named slot bounds
    # the session to ONE cached relation for this entry — rebuilding
    # unpersists the previous build's cache (ADVICE r9 leak fix).
    sigs = _slot_persist("mm_phash_dedup.sigs", ahash_images(blobs, use_real=False))
    pairs = bitstring_near_dup_pairs(
        sigs, sig_col="phash", id_col="doc_id", n_bits=64, max_hamming=3, bands=4
    )
    w = Window.partitionBy("id_hi").orderBy("id_lo")
    dups = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id_hi").alias("doc_id"),
            F.col("id_lo").alias("dup_of"),
            "hamming",
        )
    )
    return sigs.join(dups, "doc_id", "left").select(
        "doc_id",
        "phash",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
        "hamming",
    )


@register(
    "dedup_cc_clusters",
    f"""
    WITH RECURSIVE {_PHASH_CTES},
    prs2 AS (SELECT id_lo, id_hi FROM ham WHERE hamming <= 3),
    sym AS (
        SELECT id_lo AS s, id_hi AS d FROM prs2
        UNION ALL
        SELECT id_hi AS s, id_lo AS d FROM prs2
    ),
    reach(node, comp) AS (
        SELECT s, s FROM sym
        UNION
        SELECT sym.d, reach.comp FROM reach JOIN sym ON sym.s = reach.node
    ),
    cc AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node),
    alldocs AS (
        SELECT p.doc_id, COALESCE(cc.component, p.doc_id) AS component
        FROM ph p LEFT JOIN cc ON cc.node = p.doc_id
    ),
    sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM alldocs GROUP BY component
    )
    SELECT f.doc_id, f.component, f.doc_id = f.component AS keep,
           s.cluster_size
    FROM alldocs f JOIN sizes s USING (component)
    """,
    "Connected components over the near-dup pair graph — the cluster "
    "tier every real dedup pipeline needs: pair relations only say "
    "'a matches b'; transitive grouping (a~b, b~c => one cluster) "
    "picks ONE canonical keeper per component instead of one per "
    "pair. Drives the EXISTING min-label-propagation operator "
    "(operators/dedup.connected_components, hash-green over Jaccard "
    "pairs as dedup_cluster_assignment since r5) over a SECOND pair "
    "graph — the r9 pHash Hamming pairs — with strict=True (r9: "
    "loud RuntimeError on non-convergence instead of silently "
    "mislabeled components; the lenient default keeps existing "
    "callers unchanged). component = min doc_id in the component; "
    "keep = being that minimum; cluster_size counts members "
    "(singletons included via the left join — two columns "
    "dedup_cluster_assignment does not surface; the re-upload corpus "
    "construction puts real 3-member clusters under the gate, see "
    "the _PHASH_CTES comment). Edges "
    "= the SAME shared pHash Hamming pair CTEs as mm_phash_dedup "
    "(one-text discipline). Scale shape: one (join + min-groupBy) "
    "shuffle per superstep over |V|-row state, edge relation "
    "persisted once; the oracle's recursive CTE replays the closure "
    "exactly (UNION dedup terminates on cycles). Full oracle.",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.media import ahash_images
    from ..operators.dedup import bitstring_near_dup_pairs, connected_components

    # slot-persist for the same three-consumer reason as mm_phash_dedup
    # (plus the CC loop's convergence counts re-reading the pair side);
    # the named slot caps the session at one cached relation per entry
    # (ADVICE r9 leak fix)
    sigs = _slot_persist(
        "dedup_cc_clusters.sigs",
        ahash_images(
            _phash_corpus(spark, sf_dir).select(
                "doc_id", F.encode("text", "UTF-8").alias("data")
            ),
            use_real=False,
        ),
    )
    pairs = bitstring_near_dup_pairs(
        sigs, sig_col="phash", id_col="doc_id", n_bits=64, max_hamming=3, bands=4
    )
    cc = connected_components(
        pairs, a_col="id_lo", b_col="id_hi", strict=True
    ).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
    )
    alldocs = (
        sigs.select("doc_id")
        .join(cc, sigs["doc_id"] == cc["node"], "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    )
    sizes = alldocs.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return alldocs.join(sizes, "component").select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
        "cluster_size",
    )


_DSIR_RESAMPLE_K = 50
# DuckDB mirror of the exact-integer DLT priority key over the DSIR
# weights (same kit as priority_sample_docs)
from ..operators.sampling import PRIORITY_KEY_SQL as _PS_KEY_TPL  # noqa: E402

_DSIR_PS_KEY = _PS_KEY_TPL.format(w="score_scaled", id="doc_id", scale=16**15)


@register(
    "dsir_resample_docs",
    f"""
    WITH {_DSIR_CTES},
    scored AS (
        SELECT doc_id, score_scaled AS weight,
               CAST({_DSIR_PS_KEY} AS HUGEINT) AS pri
        FROM dsir
        WHERE score_scaled IS NOT NULL AND score_scaled > 0
    ),
    top AS (
        SELECT doc_id, weight, pri,
               ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS rn
        FROM scored
        ORDER BY pri DESC, doc_id
        LIMIT {_DSIR_RESAMPLE_K + 1}
    ),
    tau AS (
        SELECT CASE WHEN COUNT(*) > {_DSIR_RESAMPLE_K} THEN MIN(pri)
                    ELSE CAST(0 AS HUGEINT) END AS tau
        FROM top
    )
    SELECT doc_id, weight,
           CAST(pri AS VARCHAR) AS priority,
           GREATEST(CAST(weight AS DOUBLE), CAST(tau AS DOUBLE)) AS est_weight
    FROM top CROSS JOIN tau
    WHERE rn <= {_DSIR_RESAMPLE_K}
    """,
    "DSIR's SECOND half — the importance RESAMPLING the paper is "
    "named for (Xie et al. 2023): draw a fixed-size in-domain corpus "
    "proportionally to the hashed-ngram importance weights, composed "
    "from two already-verified kits — the shared _DSIR_CTES weight "
    "relation (same text as dsir_importance_weights, stages can "
    "never drift) feeding the exact-integer DLT priority sample "
    "(PRIORITY_KEY_SQL; priority rides as digit-string because the "
    "exact key exceeds 2^53). Deterministic md5-derived u makes the "
    "drawn sample a pure function of the data. Scale shape: the DSIR "
    "passes plus ONE TakeOrderedAndProject over the weight relation "
    "(per-partition k+1 heaps, no global sort) and a SinglePartition "
    "window over k+1 rows for tau — the est_weight column keeps any "
    "subset sum unbiasedly estimable, the property that lets a "
    "training-mix report quote corpus statistics from the sample.",
)
def dsir_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import dsir_importance
    from ..operators.sampling import priority_sample

    w = dsir_importance(
        _t(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )
    return priority_sample(w, "doc_id", "score_scaled", _DSIR_RESAMPLE_K).withColumn(
        "priority", F.col("priority").cast("string")
    )


_MRL_DIM = 16


@register(
    "embedding_matryoshka_truncate",
    f"""
    WITH pre AS (
        SELECT vec_id, embedding[1:{_MRL_DIM}] AS p FROM embeddings
    ),
    nrm AS (
        SELECT vec_id, p,
               sqrt(CAST((
                   SELECT SUM(CAST(ROUND(
                       CAST(p[g.i] AS DOUBLE) * CAST(p[g.i] AS DOUBLE) * 1e12
                   ) AS BIGINT)) FROM range(1, {_MRL_DIM + 1}) AS g(i)
               ) AS BIGINT) / 1e12) AS nrm
        FROM pre
    )
    SELECT vec_id, nrm, CAST(g.i AS INT) AS pos,
           CAST(p[g.i] AS DOUBLE) / nrm AS value
    FROM nrm, range(1, {_MRL_DIM + 1}) AS g(i)
    WHERE nrm > 0
    """,
    "Matryoshka embedding truncation (Kusupati et al. 2022, MRL): "
    "keep the first 16 of 64 dims and L2-renormalize — the "
    "production trick that serves one stored embedding at several "
    "cost tiers (coarse retrieval on the prefix, full-dim rerank). "
    "Map-only, zero exchanges; the prefix norm is the exact "
    "scaled-int accumulation (norm_exact's argument) so both engines "
    "compute the SAME IEEE sqrt and per-element division — "
    "bit-identical values. Zero-norm prefixes are dropped (nothing "
    "to renormalize; the fixture has none, the guard is for real "
    "corpora). Output is posexploded to one (vec_id, nrm, pos, "
    "value) SCALAR row per dimension — the r10 driver red row was "
    "this entry returning a raw ArrayType column, which the driver's "
    "pandas canonicalization cannot hash ('unhashable type: list'); "
    "every catalog entry's final schema must be scalar-only "
    "(tests/test_catalog_schema_lint.py enforces the class). "
    "Composes with the ANN entries: a prefix index probes 4x less "
    "data per vector at the same row count.",
)
def embedding_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import norm_exact

    emb = _t(spark, sf_dir, "embeddings")
    p = F.slice(F.col("embedding"), 1, _MRL_DIM)
    nrm = norm_exact(p)
    return (
        emb.select("vec_id", p.alias("p"), nrm.alias("nrm"))
        .where(F.col("nrm") > 0)
        .select("vec_id", "nrm", F.posexplode("p").alias("pos0", "x"))
        .select(
            "vec_id",
            "nrm",
            (F.col("pos0") + F.lit(1)).alias("pos"),
            (F.col("x").cast("double") / F.col("nrm")).alias("value"),
        )
    )


_WDS_SHARD_MAX = 200


@register(
    "export_webdataset_docs",
    f"""
    WITH ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn FROM documents
    ),
    per AS (
        SELECT rn // {_WDS_SHARD_MAX} AS s, COUNT(*) AS n
        FROM ranked GROUP BY rn // {_WDS_SHARD_MAX}
    )
    SELECT printf('shard-%06d.tar', s) AS shard_file,
           CAST(n AS BIGINT) AS n_records,
           CAST(n AS BIGINT) AS n_members
    FROM per
    """,
    "WebDataset tar-shard export driven end to end under the hash "
    "gate (operators/curation.export_webdataset_shards): docs land "
    "in shard-NNNNNN.tar files by global id rank // 200, one .txt "
    "member per record, deterministic BYTES (zeroed mtime/uid/gid, "
    "rank-ordered members — re-export is byte-identical, pinned in "
    "tests/test_curation.py). The entry returns the accounting "
    "parsed FROM THE WRITTEN TARS (binaryFile read-back + stdlib "
    "tarfile), so a hash match proves the export actually wrote "
    "every record into the right shard — the oracle derives the "
    "same accounting from nothing but the corpus row count. Scale "
    "shape: one range exchange (global rank), one shard-keyed "
    "exchange, tasks own whole tars, write-aside + atomic rename. "
    "n_bytes is returned by the operator but excluded here (exact "
    "tar framing is pinned by the determinism test instead).",
)
def export_webdataset_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.curation import export_webdataset_shards

    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"lichess_db_spark_wds_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    acct = export_webdataset_shards(
        _t(spark, sf_dir, "documents"),
        out_dir,
        shard_max_records=_WDS_SHARD_MAX,
    )
    return acct.select("shard_file", "n_records", "n_members")


@register(
    "vocab_growth_curve",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    firsts AS (
        SELECT t, MIN(doc_id) AS first_doc FROM tok GROUP BY t
    ),
    n AS (SELECT MAX(doc_id) AS mx FROM tok),
    marks AS (SELECT unnest([10, 25, 50, 100]) AS pct)
    SELECT m.pct,
           CAST(COUNT(*) FILTER (
               f.first_doc * 100 <= n.mx * m.pct
           ) AS BIGINT) AS vocab_size,
           CAST((SELECT COUNT(*) FROM tok t2, n
                 WHERE t2.doc_id * 100 <= n.mx * m.pct) AS BIGINT) AS n_tokens
    FROM firsts f CROSS JOIN n CROSS JOIN marks m
    GROUP BY m.pct, n.mx
    """,
    "Vocabulary growth curve (Heaps' law diagnostic): distinct-token "
    "count at 10/25/50/100% corpus prefixes (by doc_id order) next "
    "to total token volume — the measurement that sizes a tokenizer "
    "vocab and predicts how vocabulary scales to the full 100 TB "
    "crawl BEFORE training on it (V ~ N^beta; fit beta from the "
    "curve). Single-pass shape (VERDICT r9 item 6 — the r9 draft "
    "scanned the exploded relation twice): the corpus max doc_id "
    "comes off the UNEXPLODED documents scan (broadcast 1-row), then "
    "ONE exploded scan feeds ONE token-keyed aggregate that carries "
    "BOTH the first-occurrence doc (min) and the four per-prefix "
    "occurrence counts (conditional sums) per token; the curve is a "
    "vocab-sized second aggregate. No per-prefix rescans, no "
    "count_distinct per mark (which would be 4 full shuffles). The "
    "prefix test is exact integer cross-multiply "
    "(first_doc * 100 <= max_doc * pct). Full oracle.",
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    marks = (10, 25, 50, 100)
    # mx must come from the SAME population as the oracle's exploded
    # relation: explode(split(NULL)) drops NULL-text docs in both
    # engines, so a NULL-text doc holding the corpus-max doc_id would
    # silently shift every prefix threshold if mx were taken over the
    # raw table (ADVICE r10; the parallel passage_dup_curve fold
    # already guarded its mx population for the same reason). Cheap:
    # still one row off the unexploded scan, filter pushed to parquet.
    mx = d.where(F.col("text").isNotNull()).agg(F.max("doc_id").alias("mx"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    per_tok = (
        tok.crossJoin(F.broadcast(mx))
        .groupBy("t")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.max("mx").alias("mx"),
            *[
                F.sum(
                    F.when(
                        F.col("doc_id") * 100 <= F.col("mx") * F.lit(p), 1
                    ).otherwise(0)
                ).alias(f"c{p}")
                for p in marks
            ],
        )
    )
    marks_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in marks])).alias("pct")
    )
    return (
        per_tok.crossJoin(F.broadcast(marks_df))
        .groupBy("pct")
        .agg(
            F.sum(
                F.when(
                    F.col("first_doc") * 100 <= F.col("mx") * F.col("pct"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("vocab_size"),
            F.sum(
                F.when(F.col("pct") == 10, F.col("c10"))
                .when(F.col("pct") == 25, F.col("c25"))
                .when(F.col("pct") == 50, F.col("c50"))
                .otherwise(F.col("c100"))
            )
            .cast("bigint")
            .alias("n_tokens"),
        )
        .select("pct", "vocab_size", "n_tokens")
    )


@register(
    "countmin_vec_mv_orders",
    _CM_ORACLE,
    "The DENSE `cm:<w>x<d>` StateCol algebra driven end to end under "
    "the hash gate — the r9 spec-dispatch unification's own driver "
    "row beside the long-form entry: per-batch partials from "
    "cm_accumulate_vec (length-128 BIGINT counter vectors, one per "
    "group), merged through merge_agg_state's cm:32x4 dispatch "
    "(element-wise vector add — the hist algebra at n=w*d), point "
    "reads from cm_estimate_expr (min over the item's d probed "
    "cells, a pure array expression — no join against counter rows). "
    "SHARES the long-form entry's oracle text verbatim: same md5 "
    "bins, counters add either way, so the two state layouts are "
    "estimate-identical by construction (also property-tested in "
    "test_incremental). Scale tradeoff the pair documents: LONG form "
    "wins at high group cardinality (sparse — most counters zero), "
    "DENSE wins at low cardinality with heavy merge traffic (one row "
    "per group, no per-counter shuffle keys).",
)
def countmin_vec_mv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import (
        StateCol,
        cm_accumulate_vec,
        cm_estimate_expr,
        merge_agg_state,
    )

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_custkey") % 97).cast("string").alias("item"),
        "o_orderkey",
    )
    cols = [StateCol("cm", "cm:32x4")]
    hist = cm_accumulate_vec(
        base.where(F.col("o_orderkey") % 10 != 0), ["grp"], "item"
    )
    delta = cm_accumulate_vec(
        base.where(F.col("o_orderkey") % 10 == 0), ["grp"], "item"
    )
    state = merge_agg_state(hist, delta, keys=["grp"], cols=cols)
    probes = base.select("grp", "item").distinct()
    est = probes.join(state, "grp").select(
        "grp",
        "item",
        cm_estimate_expr("cm", F.col("item")).alias("cm_estimate"),
    )
    exact = base.groupBy("grp", "item").agg(
        F.count("*").cast("bigint").alias("exact_count")
    )
    return est.join(exact, ["grp", "item"]).select(
        F.col("grp").alias("o_orderpriority"),
        "item",
        "cm_estimate",
        "exact_count",
    )


@register(
    "knn_matryoshka_rerank",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.embedding AS qe, c.embedding AS ce
        FROM embeddings c, q WHERE c.vec_id != q.vec_id
    ),
    dots AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CASE WHEN g.i <= 16 THEN CAST(ROUND(CAST(qe[g.i] AS DOUBLE) * CAST(ce[g.i] AS DOUBLE) * 1e12) AS BIGINT) ELSE 0 END) AS BIGINT) AS pdot,
               CAST(SUM(CASE WHEN g.i <= 16 THEN CAST(ROUND(CAST(qe[g.i] AS DOUBLE) * CAST(qe[g.i] AS DOUBLE) * 1e12) AS BIGINT) ELSE 0 END) AS BIGINT) AS pqq,
               CAST(SUM(CASE WHEN g.i <= 16 THEN CAST(ROUND(CAST(ce[g.i] AS DOUBLE) * CAST(ce[g.i] AS DOUBLE) * 1e12) AS BIGINT) ELSE 0 END) AS BIGINT) AS pcc,
               CAST(SUM(CAST(ROUND(CAST(qe[g.i] AS DOUBLE) * CAST(ce[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS fdot,
               CAST(SUM(CAST(ROUND(CAST(qe[g.i] AS DOUBLE) * CAST(qe[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS fqq,
               CAST(SUM(CAST(ROUND(CAST(ce[g.i] AS DOUBLE) * CAST(ce[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS fcc
        FROM pairs, generate_series(1, 64) AS g(i)
        GROUP BY query_id, neighbor_id
    ),
    coarse AS (
        SELECT query_id, neighbor_id,
               ROUND((pdot / 1e12) / (sqrt(pqq / 1e12) * sqrt(pcc / 1e12)), 3)
                   AS coarse_score,
               ROUND((fdot / 1e12) / (sqrt(fqq / 1e12) * sqrt(fcc / 1e12)), 3)
                   AS score
        FROM dots
    ),
    cand AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY coarse_score DESC,
                                                  neighbor_id) AS cr
            FROM coarse
        ) WHERE cr <= 50
    )
    SELECT query_id, neighbor_id, score, coarse_score, CAST(rank AS INT) AS rank
    FROM (
        SELECT query_id, neighbor_id, score, coarse_score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM cand
    ) WHERE rank <= 5
    """,
    "Two-stage Matryoshka ANN (Kusupati et al. 2022 adaptive "
    "retrieval): coarse cosine over the FIRST-16-dim prefix keeps 50 "
    "candidates per query (reading 1/4 of the vector bytes), exact "
    "full-dim cosine reranks to top-5 — the serving recipe that "
    "makes one stored embedding work at several cost tiers, and the "
    "retrieval-side consumer of catalog:embedding_matryoshka_"
    "truncate. Both cuts use the repo's deterministic knn kit "
    "(exact scaled-int cosines, 3-decimal rounding, id tiebreaks), "
    "so even the candidate set is engine-portable — a FULL oracle "
    "where IVF/PQ are rows-only. Scale shape: broadcast queries x "
    "map-side prefix scan + per-query TopK window; the rerank "
    "touches Q x 50 rows. Recall floor vs brute force test-pinned.",
)
def knn_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import matryoshka_topk

    emb = _t(spark, sf_dir, "embeddings")
    return matryoshka_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, prefix_dim=16, overfetch=50
    )


@register(
    "passage_dup_curve",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    grams AS (
        SELECT doc_id,
               md5(array_to_string(ts[g.i:g.i+7], ' ')) AS gk
        FROM tok, range(1, 100001) AS g(i)
        WHERE g.i + 7 <= len(ts)
    ),
    firsts AS (SELECT gk, MIN(doc_id) AS first_doc FROM grams GROUP BY gk),
    n AS (SELECT MAX(doc_id) AS mx FROM grams),
    marks AS (SELECT unnest([10, 25, 50, 100]) AS pct),
    vol AS (
        SELECT m.pct, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM grams g2 CROSS JOIN n CROSS JOIN marks m
        WHERE g2.doc_id * 100 <= n.mx * m.pct
        GROUP BY m.pct
    ),
    uniq AS (
        SELECT m.pct, CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM firsts f CROSS JOIN n CROSS JOIN marks m
        WHERE f.first_doc * 100 <= n.mx * m.pct
        GROUP BY m.pct
    )
    SELECT v.pct, v.n_grams, u.n_distinct,
           v.n_grams - u.n_distinct AS n_duplicated
    FROM vol v JOIN uniq u USING (pct)
    """,
    "Passage-duplication growth curve: total vs distinct 8-gram "
    "passages at 10/25/50/100% corpus prefixes — the measurement "
    "behind deduplicate-before-training (Lee et al. 2021): the "
    "DUPLICATED share grows super-linearly with corpus size, so the "
    "dedup payoff at 100 TB cannot be extrapolated from a small "
    "sample without this curve. Exact counts only (no small-int "
    "ratio rounding); the vocab_growth_curve single-pass shape over "
    "md5 gram digests: one exploded scan feeds both the "
    "first-occurrence min-agg (distinct side) and the volume counts; "
    "exact integer cross-multiply prefix tests. Full oracle.",
)
def passage_dup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    # guard: sequence(1, size-7) DESCENDS to [1, 0] when a doc has
    # fewer than 8 tokens (Spark sequences run backwards for
    # stop < start) — short docs must contribute zero grams, not a
    # slice(ts, 0, 8) analysis error
    gram_arr = F.when(
        F.size(ts) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 7),
            lambda i: F.md5(F.array_join(F.slice(ts, i, 8), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # r14 optimization (guide §2.5 input skew): the md5-per-8-gram
    # transform ran on the scan's few skewed splits of the small
    # single-file corpus; spread() the doc rows first so the gram
    # build runs at full parallelism (gram stage measured 2.82 s ->
    # 0.62 s isolated at sf0.1). The gram-keyed aggregate downstream
    # is partition-order-free.
    from ..operators._util import spread

    grams = spread(d.select("doc_id", "text")).select(
        "doc_id", F.explode(gram_arr).alias("gk")
    )
    # corpus max off the UNEXPLODED scan (same >=8-token population as
    # the oracle's MAX over grams: a doc contributes grams iff it has
    # >=8 tokens); the heavy gram explode then runs ONCE, feeding a
    # single gram-keyed aggregate that carries the first-occurrence
    # doc AND the per-prefix volume counts (the vocab_growth_curve r10
    # single-pass fold)
    marks = (10, 25, 50, 100)
    mx = d.where(F.size(ts) >= 8).agg(F.max("doc_id").alias("mx"))
    per_gram = (
        grams.crossJoin(F.broadcast(mx))
        .groupBy("gk")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.max("mx").alias("mx"),
            *[
                F.sum(
                    F.when(
                        F.col("doc_id") * 100 <= F.col("mx") * F.lit(p), 1
                    ).otherwise(0)
                ).alias(f"c{p}")
                for p in marks
            ],
        )
    )
    marks_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in marks])).alias("pct")
    )
    return (
        per_gram.crossJoin(F.broadcast(marks_df))
        .groupBy("pct")
        .agg(
            F.sum(
                F.when(F.col("pct") == 10, F.col("c10"))
                .when(F.col("pct") == 25, F.col("c25"))
                .when(F.col("pct") == 50, F.col("c50"))
                .otherwise(F.col("c100"))
            )
            .cast("bigint")
            .alias("n_grams"),
            F.sum(
                F.when(
                    F.col("first_doc") * 100 <= F.col("mx") * F.col("pct"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_distinct"),
        )
        # the oracle's vol JOIN uniq omits marks whose prefix holds no
        # grams (both aggregates empty); the folded shape must filter
        # its zero rows to keep that contract (test-pinned on a
        # short-docs corpus — never binding on the fixtures, where
        # every prefix has grams)
        .where(F.col("n_grams") > 0)
        .select(
            "pct",
            "n_grams",
            "n_distinct",
            (F.col("n_grams") - F.col("n_distinct")).alias("n_duplicated"),
        )
    )


# Audio-fingerprint near-dup (staged for r11 — registered after the
# r10 window froze): the corpus is the SAME duplicated-media relation
# as the pHash entries (_PHASH_CORPUS_CTE), the pairing is the SAME
# Hamming band-LSH kit over a composite (track, window) id — the
# fourth modality costs zero new pairing code (VERDICT r9 item 7).
_AFP_WINDOW = 1024
_AFP_HOP = 512
_AFP_CTES = f"""{_PHASH_CORPUS_CTE},
    ch AS (
        SELECT doc_id, g.i - 1 AS pos,
               unicode(substr(text, CAST(g.i AS INT), 1)) AS v,
               len(text) AS n
        FROM corpus, range(1, 100001) AS g(i)
        WHERE g.i <= len(text)
    ),
    wn AS (
        SELECT doc_id, len(text) AS n,
               GREATEST((len(text) - {_AFP_WINDOW}) // {_AFP_HOP} + 1, 1) AS nw
        FROM corpus WHERE len(text) > 0
    ),
    wch AS (
        SELECT c.doc_id, w.w AS widx, c.pos - w.w * {_AFP_HOP} AS rp, c.v,
               LEAST({_AFP_WINDOW}, wn.n - w.w * {_AFP_HOP}) AS wlen
        FROM ch c
        JOIN wn ON wn.doc_id = c.doc_id
        JOIN range(0, 1000) AS w(w) ON w.w < wn.nw
        WHERE c.pos >= w.w * {_AFP_HOP}
          AND c.pos < w.w * {_AFP_HOP} + {_AFP_WINDOW}
    ),
    wagg AS (
        SELECT doc_id, widx, CAST((rp * 65) // wlen AS INT) AS b,
               CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
        FROM wch GROUP BY doc_id, widx, (rp * 65) // wlen
    ),
    wids AS (SELECT DISTINCT doc_id, widx FROM wagg),
    afp AS (
        SELECT w.doc_id, w.widx,
               string_agg(CASE WHEN COALESCE(x.s, 0) * COALESCE(y.c, 0)
                                    < COALESCE(y.s, 0) * COALESCE(x.c, 0)
                               THEN '1' ELSE '0' END, '' ORDER BY g.i) AS afp
        FROM wids w
        CROSS JOIN range(0, 64) AS g(i)
        LEFT JOIN wagg x ON x.doc_id = w.doc_id AND x.widx = w.widx
                        AND x.b = g.i
        LEFT JOIN wagg y ON y.doc_id = w.doc_id AND y.widx = w.widx
                        AND y.b = g.i + 1
        GROUP BY w.doc_id, w.widx
    ),
    -- aHash half of the 128-bit wide signature (VERDICT r12 item 2:
    -- the audio tier's per-track window fan-out, n_bytes/hop, exceeds
    -- even the video tier whose 16-bit band keys measurably
    -- saturated — the wide tier keeps keys_per_band >> windows/16):
    -- 64 equal-span blocks, bit b = 1 iff block mean > window mean by
    -- exact integer cross-multiply (media._ahash_bits_from_gray).
    w64 AS (
        SELECT doc_id, widx, CAST((rp * 64) // wlen AS INT) AS b,
               CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
        FROM wch GROUP BY doc_id, widx, (rp * 64) // wlen
    ),
    wtot AS (
        SELECT doc_id, widx, CAST(SUM(v) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM wch GROUP BY doc_id, widx
    ),
    wabits AS (
        SELECT t.doc_id, t.widx,
               string_agg(CASE WHEN COALESCE(a.s, 0) * t.n
                                    > t.s * COALESCE(a.c, 0)
                               THEN '1' ELSE '0' END, '' ORDER BY g.i) AS ahp
        FROM wtot t
        CROSS JOIN range(0, 64) AS g(i)
        LEFT JOIN w64 a ON a.doc_id = t.doc_id AND a.widx = t.widx
                       AND a.b = g.i
        GROUP BY t.doc_id, t.widx
    ),
    wsig AS (
        SELECT f.doc_id * 100000 + f.widx AS wid, f.doc_id, f.widx,
               f.afp || a.ahp AS afp
        FROM afp f
        JOIN wabits a ON a.doc_id = f.doc_id AND a.widx = f.widx
    ),
    abands AS (
        SELECT wid, doc_id, afp, g.j AS b,
               substr(afp, CAST(g.j * 32 + 1 AS INT), 32) AS key
        FROM wsig, range(0, 4) AS g(j)
    ),
    acand AS (
        SELECT DISTINCT a.wid AS wid_lo, b.wid AS wid_hi
        FROM abands a
        JOIN abands b ON a.b = b.b AND a.key = b.key AND a.wid < b.wid
        WHERE a.doc_id != b.doc_id
    ),
    aham AS (
        SELECT c.wid_lo, c.wid_hi,
               CAST(SUM(CASE WHEN substr(pa.afp, CAST(g.i AS INT), 1)
                              != substr(pb.afp, CAST(g.i AS INT), 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM acand c
        JOIN wsig pa ON pa.wid = c.wid_lo
        JOIN wsig pb ON pb.wid = c.wid_hi,
        range(1, 129) AS g(i)
        GROUP BY c.wid_lo, c.wid_hi
    )"""


@register(
    "audio_fp_near_dup",
    f"""
    WITH {_AFP_CTES}
    SELECT wid_lo // 100000 AS track_lo,
           wid_hi // 100000 AS track_hi,
           CAST(COUNT(*) AS BIGINT) AS n_window_matches,
           CAST(MIN(hamming) AS BIGINT) AS min_hamming
    FROM aham
    WHERE hamming <= 3
    GROUP BY wid_lo // 100000, wid_hi // 100000
    """,
    "Audio near-dup via windowed byte-energy gradient fingerprints — "
    "the FOURTH modality on the shared Hamming kit (text: minhash/"
    "exactsubstr; embeddings: lsh/semdedup; images: pHash; audio: "
    "THIS), VERDICT r9 item 7. multimodal.media.audio_fingerprints "
    "emits a chromaprint-SHAPED series of 128-bit WIDE "
    "sub-fingerprints over overlapping 1024-byte windows (hop 512): "
    "per window the dHash adjacent-energy gradient rule (65 "
    "equal-span blocks, exact integer cross-multiply) ++ the aHash "
    "block-vs-window-mean rule — the wide tier per VERDICT r12 item "
    "2: this tier's per-track window fan-out (n_bytes/hop) exceeds "
    "even the video tier whose 16-bit band keys measurably "
    "birthday-saturated (BENCH_SCALE_R12_VIDEO), so production "
    "corpora need 4 x 32-bit band keys (keys_per_band >> "
    "windows/16). Trims/offsets still match on shared windows — a "
    "whole-file hash would not. Pairing: the SAME "
    "dedup.bitstring_near_dup_pairs band LSH over composite "
    "(track*100000+window) ids, then track-level aggregation "
    "(n_window_matches, min_hamming) excluding same-track pairs. "
    "Corpus: the shared duplicated-media relation (_PHASH_CORPUS_CTE "
    "— byte-identical re-uploads, so every shared window pairs at "
    "hamming 0). Decode is the byte-identity stub (no audio codec in "
    "the container; use_real=True raises like the PIL gate) — the "
    "windowing, exact-integer bit rule and pairing plumbing are real "
    "and fully value-verified. Scale shape: map-only Arrow kernel, "
    "ONE (band, key) exchange with the count-first pre-cap, verify "
    "touches candidates only; output rows bounded by matching "
    "windows, never all-pairs.",
)
def audio_fp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.media import audio_fingerprints
    from ..operators.dedup import bitstring_near_dup_pairs

    d = _phash_corpus(spark, sf_dir)
    fps = audio_fingerprints(
        d.select("doc_id", F.encode("text", "UTF-8").alias("data")),
        window_bytes=_AFP_WINDOW,
        hop_bytes=_AFP_HOP,
        wide=True,
    )
    # slot-persist: the window-signature relation feeds the pre-cap
    # count pass, both band-join sides and the Hamming verify; the
    # named slot bounds the session to one cached relation (the
    # mm_phash_dedup contract)
    wsig = _slot_persist(
        "audio_fp_near_dup.wsig",
        fps.select(
            (F.col("doc_id") * 100000 + F.col("window_idx")).alias("wid"),
            F.col("doc_id").alias("track"),
            "afp",
        ),
    )
    pairs = bitstring_near_dup_pairs(
        wsig, sig_col="afp", id_col="wid", n_bits=128, max_hamming=3, bands=4
    )
    return (
        pairs.select(
            F.floor(F.col("id_lo") / 100000).alias("track_lo"),
            F.floor(F.col("id_hi") / 100000).alias("track_hi"),
            "hamming",
        )
        .where(F.col("track_lo") != F.col("track_hi"))
        .groupBy("track_lo", "track_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_window_matches"),
            F.min("hamming").cast("bigint").alias("min_hamming"),
        )
    )


# Video-fingerprint near-dup (staged for r11, beside the audio entry):
# evenly-spaced frame sampling (the EXISTING frame_sample operator owns
# the offset arithmetic) -> per-frame aHash -> the SAME Hamming pairing
# kit over composite (track, frame) ids — the FIFTH modality, again
# zero new pairing code. Frames here are byte spans of the stub blob
# (no video codec in the container); a real decoder would seek to
# frame_sample's byte_offset and emit one image per frame, which then
# flows through the IDENTICAL ahash -> pairing path.
_VFP_MAX_FRAMES = 4
_VFP_STRIDE = 256
_VFP_CTES = f"""{_PHASH_CORPUS_CTE},
    ch AS (
        SELECT doc_id, g.i - 1 AS pos,
               unicode(substr(text, CAST(g.i AS INT), 1)) AS v
        FROM corpus, range(1, 100001) AS g(i)
        WHERE g.i <= len(text)
    ),
    vn AS (
        SELECT doc_id, len(text) AS n,
               LEAST({_VFP_MAX_FRAMES}, 1 + len(text) // {_VFP_STRIDE}) AS nf
        FROM corpus WHERE len(text) > 0
    ),
    vsp AS (SELECT doc_id, n, nf, n // nf AS span FROM vn),
    fch AS (
        SELECT c.doc_id, f.f AS fidx, c.pos - f.f * vsp.span AS rp, c.v,
               vsp.span
        FROM ch c
        JOIN vsp ON vsp.doc_id = c.doc_id
        JOIN range(0, {_VFP_MAX_FRAMES}) AS f(f) ON f.f < vsp.nf
        WHERE c.pos >= f.f * vsp.span AND c.pos < f.f * vsp.span + vsp.span
    ),
    fagg AS (
        SELECT doc_id, fidx, CAST((rp * 64) // span AS INT) AS b,
               CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
        FROM fch GROUP BY doc_id, fidx, (rp * 64) // span
    ),
    ftot AS (
        SELECT doc_id, fidx, CAST(SUM(v) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM fch GROUP BY doc_id, fidx
    ),
    fbits AS (
        SELECT t.doc_id, t.fidx,
               string_agg(CASE WHEN COALESCE(a.s, 0) * t.n
                                    > t.s * COALESCE(a.c, 0)
                               THEN '1' ELSE '0' END, '' ORDER BY g.i) AS afp
        FROM ftot t
        CROSS JOIN range(0, 64) AS g(i)
        LEFT JOIN fagg a ON a.doc_id = t.doc_id AND a.fidx = t.fidx
                        AND a.b = g.i
        GROUP BY t.doc_id, t.fidx
    ),
    -- dHash half of the 128-bit wide signature (VERDICT r12 item 2):
    -- 65 equal-span blocks per frame, bit b = 1 iff block b's mean <
    -- block b+1's mean by exact integer cross-multiply — the same
    -- gradient rule as media._dhash_bits_from_gray / the audio tier.
    dagg AS (
        SELECT doc_id, fidx, CAST((rp * 65) // span AS INT) AS b,
               CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
        FROM fch GROUP BY doc_id, fidx, (rp * 65) // span
    ),
    dbits AS (
        SELECT t.doc_id, t.fidx,
               string_agg(CASE WHEN COALESCE(x.s, 0) * COALESCE(y.c, 0)
                                    < COALESCE(y.s, 0) * COALESCE(x.c, 0)
                               THEN '1' ELSE '0' END, '' ORDER BY g.i) AS dfp
        FROM ftot t
        CROSS JOIN range(0, 64) AS g(i)
        LEFT JOIN dagg x ON x.doc_id = t.doc_id AND x.fidx = t.fidx
                        AND x.b = g.i
        LEFT JOIN dagg y ON y.doc_id = t.doc_id AND y.fidx = t.fidx
                        AND y.b = g.i + 1
        GROUP BY t.doc_id, t.fidx
    ),
    fsig AS (
        SELECT a.doc_id * 100 + a.fidx AS fid, a.doc_id, a.fidx,
               a.afp || d.dfp AS vfp
        FROM fbits a
        JOIN dbits d ON d.doc_id = a.doc_id AND d.fidx = a.fidx
    ),
    vbands AS (
        SELECT fid, doc_id, vfp, g.j AS b,
               substr(vfp, CAST(g.j * 32 + 1 AS INT), 32) AS key
        FROM fsig, range(0, 4) AS g(j)
    ),
    vcand AS (
        SELECT DISTINCT a.fid AS fid_lo, b.fid AS fid_hi
        FROM vbands a
        JOIN vbands b ON a.b = b.b AND a.key = b.key AND a.fid < b.fid
        WHERE a.doc_id != b.doc_id
    ),
    vham AS (
        SELECT c.fid_lo, c.fid_hi,
               CAST(SUM(CASE WHEN substr(pa.vfp, CAST(g.i AS INT), 1)
                              != substr(pb.vfp, CAST(g.i AS INT), 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM vcand c
        JOIN fsig pa ON pa.fid = c.fid_lo
        JOIN fsig pb ON pb.fid = c.fid_hi,
        range(1, 129) AS g(i)
        GROUP BY c.fid_lo, c.fid_hi
    )"""


@register(
    "video_fp_near_dup",
    f"""
    WITH {_VFP_CTES}
    SELECT fid_lo // 100 AS track_lo,
           fid_hi // 100 AS track_hi,
           CAST(COUNT(*) AS BIGINT) AS n_frame_matches,
           CAST(MIN(hamming) AS BIGINT) AS min_hamming
    FROM vham
    WHERE hamming <= 3
    GROUP BY fid_lo // 100, fid_hi // 100
    """,
    "Video near-dup via per-frame perceptual hashes — the FIFTH "
    "modality on the shared Hamming kit, completing the symmetry "
    "(text / embeddings / images / audio / video). Composes three "
    "EXISTING operators end to end: multimodal.media.frame_sample "
    "(evenly-spaced frame offsets — min(4, 1+bytes/256) frames, the "
    "arithmetic a real container decoder would seek with), per-frame "
    "128-bit aHash++dHash WIDE signatures (both exact-integer "
    "perceptual-hash rules in ONE kernel pass; a real decoder would "
    "hand decoded frame images to the SAME kernel), and "
    "dedup.bitstring_near_dup_pairs over composite (track*100+frame) "
    "ids with the count-first pre-cap, then track-level aggregation "
    "(n_frame_matches, min_hamming). The wide tier is the VERDICT "
    "r12 scale fix: the prior 64-bit/4-band tier's 16-bit band keys "
    "birthday-SATURATE under frame fan-out (BENCH_SCALE_R12_VIDEO: "
    "259k of 262k keys occupied at 64x, candidates alpha 1.24, every "
    "extra pair verify-rejected); 4 x 32-bit keys restore "
    "keys_per_band >> frames/16 (alpha 0.69, 3x faster at 64x) while "
    "keeping the pigeonhole guarantee (4 bands > max_hamming 3). Two "
    "re-uploads match on every frame at hamming 0; a trimmed or "
    "re-encoded track would still match on surviving frames — the "
    "property a whole-file hash lacks. Corpus: the shared "
    "duplicated-media relation. Scale shape: map-only frame fan-out "
    "(rows, not bytes) + map-only Arrow hash + ONE (band, key) "
    "exchange; verify touches candidates only. Full oracle.",
)
def video_fp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.media import ahash_images, frame_sample
    from ..operators.dedup import bitstring_near_dup_pairs

    d = _phash_corpus(spark, sf_dir)
    blobs = d.select("doc_id", "text", F.encode("text", "UTF-8").alias("data"))
    frames = frame_sample(
        blobs, max_frames=_VFP_MAX_FRAMES, stride_bytes=_VFP_STRIDE
    )
    nf = F.least(
        F.lit(_VFP_MAX_FRAMES).cast("bigint"),
        F.lit(1) + (F.col("n_bytes") / F.lit(_VFP_STRIDE)).cast("bigint"),
    )
    span = F.floor(F.col("n_bytes") / nf)
    frame_blobs = (
        frames.join(d.select("doc_id", "text"), "doc_id")
        .select(
            (F.col("doc_id") * 100 + F.col("frame_idx")).alias("fid"),
            F.encode(
                F.substring(
                    "text",
                    (F.col("byte_offset") + 1).cast("int"),
                    span.cast("int"),
                ),
                "UTF-8",
            ).alias("data"),
        )
    )
    # slot-persist: the frame-signature relation feeds the pre-cap
    # count pass, both band-join sides and the Hamming verify
    fsig = _slot_persist(
        "video_fp_near_dup.fsig",
        ahash_images(
            frame_blobs, id_col="fid", use_real=False, method="ahash_dhash"
        ).select(F.col("doc_id").alias("fid"), F.col("phash").alias("vfp")),
    )
    pairs = bitstring_near_dup_pairs(
        fsig, sig_col="vfp", id_col="fid", n_bits=128, max_hamming=3, bands=4
    )
    return (
        pairs.select(
            F.floor(F.col("id_lo") / 100).alias("track_lo"),
            F.floor(F.col("id_hi") / 100).alias("track_hi"),
            "hamming",
        )
        .where(F.col("track_lo") != F.col("track_hi"))
        .groupBy("track_lo", "track_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_frame_matches"),
            F.min("hamming").cast("bigint").alias("min_hamming"),
        )
    )


@register(
    "temperature_mix_allocation",
    """
    WITH toks AS (
        SELECT lang,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    weighted AS (
        SELECT lang, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE) * 1e12)) AS BIGINT)
                   AS weight_scaled
        FROM toks
    ),
    tot AS (
        SELECT CAST(SUM(weight_scaled) AS BIGINT) AS W,
               CAST(SUM(n_tokens) AS BIGINT) AS T
        FROM weighted
    )
    SELECT lang, n_tokens, weight_scaled,
           CAST(((T * 4) // 5) * weight_scaled // W AS BIGINT) AS alloc_tokens,
           CAST((((T * 4) // 5) * weight_scaled // W) AS DOUBLE)
               / CAST(n_tokens AS DOUBLE) AS alloc_epochs
    FROM weighted, tot
    """,
    "Temperature-scaled mixture allocation (alpha = 0.5; the mT5/"
    "XLM-R multilingual-sampling baseline) — the uncapped companion "
    "of unimax_lang_allocation over the SAME 80% token budget: share "
    "proportional to n_l^alpha, so tail languages are up-weighted "
    "and the head damped, but nothing stops a dominant language "
    "over-repeating (the failure UniMax's epoch cap fixes — running "
    "both and diffing IS the mix-design review). Portability: the "
    "power is computed as IEEE SQRT over the 1e12-scaled integer "
    "token count and floored straight back to BIGINT — sqrt is the "
    "one power both engines round identically (pow(x, 0.3) has no "
    "cross-engine guarantee) — and the quota split B*w//W is exact "
    "integral arithmetic end to end (Spark `div`, never a double "
    "round-trip); alloc_epochs is the single reported IEEE division. "
    "Scale shape: ONE corpus scan for per-lang counts, then G-row "
    "arithmetic with a 1-row broadcast total.",
)
def temperature_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import temperature_allocation

    return temperature_allocation(
        _t(spark, sf_dir, "documents"),
        sqrt_depth=1,
        budget_num=4,
        budget_den=5,
    )


# exact repr of the operator's (1 - lam) double for lam = 0.7: Python
# computes 1.0 - 0.7 = 0.30000000000000004 (not 0.3) and the oracle
# must subtract the SAME double or the last ulp of every penalized
# mmr_score drifts
_MMR_PEN = repr(1.0 - 0.7)

_MMR_COS = """CAST(SUM(CAST(ROUND(CAST({a}[g.i] AS DOUBLE)
                   * CAST({b}[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT)"""

_MMR_CTES = f"""
    nrm AS (
        SELECT vec_id, embedding,
               sqrt(CAST(SUM(CAST(ROUND(CAST(embedding[g.i] AS DOUBLE)
                   * CAST(embedding[g.i] AS DOUBLE) * 1e12) AS BIGINT))
                   AS BIGINT) / 1e12) AS nn
        FROM embeddings, range(1, 65) AS g(i)
        GROUP BY vec_id, embedding
    ),
    qs AS (SELECT vec_id AS query_id, embedding AS qv, nn AS qn
           FROM nrm WHERE vec_id < 3),
    rel AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(({_MMR_COS.format(a='e.embedding', b='q.qv')} / 1e12)
                     / (q.qn * e.nn), 3) AS relevance
        FROM nrm e CROSS JOIN qs q, range(1, 65) AS g(i)
        WHERE e.vec_id != q.query_id
        GROUP BY q.query_id, e.vec_id, q.qn, e.nn
    ),
    pool AS (
        SELECT query_id, neighbor_id, relevance FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY relevance DESC, neighbor_id) AS rr
            FROM rel
        ) WHERE rr <= 20
    ),
    sims AS (
        SELECT pa.query_id, pa.neighbor_id AS a, pb.neighbor_id AS b,
               ROUND(({_MMR_COS.format(a='ea.embedding', b='eb.embedding')}
                      / 1e12) / (ea.nn * eb.nn), 3) AS s
        FROM pool pa
        JOIN pool pb ON pb.query_id = pa.query_id
                    AND pb.neighbor_id != pa.neighbor_id
        JOIN nrm ea ON ea.vec_id = pa.neighbor_id
        JOIN nrm eb ON eb.vec_id = pb.neighbor_id,
        range(1, 65) AS g(i)
        GROUP BY pa.query_id, pa.neighbor_id, pb.neighbor_id, ea.nn, eb.nn
    ),
    p1 AS (
        SELECT query_id, neighbor_id, relevance,
               0.7 * relevance AS mmr_score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY 0.7 * relevance DESC, neighbor_id) AS rn
            FROM pool
        ) WHERE rn = 1
    ),
    sc2 AS (
        SELECT c.query_id, c.neighbor_id, c.relevance,
               0.7 * c.relevance - {_MMR_PEN} * s1.s AS mmr_score
        FROM pool c
        JOIN p1 ON p1.query_id = c.query_id
               AND c.neighbor_id != p1.neighbor_id
        JOIN sims s1 ON s1.query_id = c.query_id
                    AND s1.a = c.neighbor_id AND s1.b = p1.neighbor_id
    ),
    p2 AS (
        SELECT query_id, neighbor_id, relevance, mmr_score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY mmr_score DESC, neighbor_id) AS rn
            FROM sc2
        ) WHERE rn = 1
    ),
    sc3 AS (
        SELECT c.query_id, c.neighbor_id, c.relevance,
               0.7 * c.relevance
                   - {_MMR_PEN} * GREATEST(s1.s, s2.s) AS mmr_score
        FROM pool c
        JOIN p1 ON p1.query_id = c.query_id
               AND c.neighbor_id != p1.neighbor_id
        JOIN p2 ON p2.query_id = c.query_id
               AND c.neighbor_id != p2.neighbor_id
        JOIN sims s1 ON s1.query_id = c.query_id
                    AND s1.a = c.neighbor_id AND s1.b = p1.neighbor_id
        JOIN sims s2 ON s2.query_id = c.query_id
                    AND s2.a = c.neighbor_id AND s2.b = p2.neighbor_id
    ),
    p3 AS (
        SELECT query_id, neighbor_id, relevance, mmr_score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY mmr_score DESC, neighbor_id) AS rn
            FROM sc3
        ) WHERE rn = 1
    )"""


@register(
    "knn_mmr_rerank",
    f"""
    WITH {_MMR_CTES}
    SELECT query_id, CAST(1 AS INT) AS rank, neighbor_id, relevance,
           mmr_score FROM p1
    UNION ALL
    SELECT query_id, CAST(2 AS INT) AS rank, neighbor_id, relevance,
           mmr_score FROM p2
    UNION ALL
    SELECT query_id, CAST(3 AS INT) AS rank, neighbor_id, relevance,
           mmr_score FROM p3
    """,
    "Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein "
    "1998) — the diversity pass after similarity search that keeps "
    "near-duplicate hits from crowding a RAG context window: greedily "
    "pick k=3 of a 20-candidate pool maximizing 0.7*rel - 0.3*max "
    "sim-to-already-picked. The greedy loop is sequential in k BY "
    "DEFINITION (each pick changes the next penalty), so it unrolls: "
    "Spark = k chained TopK(1) windows over the materialized Q x 20 "
    "pool (eager localCheckpoint — the pool relation is referenced "
    "from every pick and anti-join, an uncut lineage re-scans the "
    "corpus per reference); oracle = the same three picks as explicit "
    "CTE stages. Every pairwise quantity is the exact scaled-int "
    "cosine rounded to 3 (the knn kit), the combination two IEEE "
    "multiplies and a subtract — note the (1-lam) literal is Python's "
    "0.30000000000000004, baked verbatim into the oracle so the last "
    "ulp agrees. Scale shape: pool cut = one broadcast-queries corpus "
    "scan; everything after runs on pool^2 rows per query. Completes "
    "the retrieval stack: brute/LSH/IVF/PQ/Matryoshka -> hybrid RRF "
    "-> MMR diversification.",
)
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_topk

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_topk(
        emb, emb.where(F.col("vec_id") < 3), k=3, pool=20, lam=0.7
    )


@register(
    "tracin_init_influence",
    """
    WITH base AS (
        SELECT vec_id, embedding,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
        FROM embeddings
    ),
    test AS (SELECT * FROM base WHERE vec_id < 5),
    train AS (SELECT * FROM base WHERE vec_id >= 5),
    dots AS (
        SELECT tr.vec_id, tr.y,
               CASE WHEN tr.y = te.y THEN 1 ELSE -1 END AS sgn,
               CAST(SUM(CAST(ROUND(CAST(tr.embedding[g.i] AS DOUBLE)
                   * CAST(te.embedding[g.i] AS DOUBLE) * 1e12) AS BIGINT))
                   AS BIGINT) AS s
        FROM train tr CROSS JOIN test te, range(1, 65) AS g(i)
        GROUP BY tr.vec_id, tr.y, te.vec_id, te.y
    )
    SELECT vec_id, y,
           CAST(SUM(sgn * (s + 1000000000000)) AS BIGINT)
               AS influence_scaled,
           CAST(SUM(sgn * (s + 1000000000000)) AS BIGINT) / 4e12
               AS influence
    FROM dots GROUP BY vec_id, y
    """,
    "Data attribution via TracIn at the first checkpoint (Pruthi et "
    "al. 2020, evaluated at initialization w=0): influence of train "
    "doc i on the test set = sum_t grad_i . grad_t, and at w=0 the "
    "logistic gradient is (0.5 - y) * [x; 1] EXACTLY (sigmoid(0) = "
    "1/2 — the logreg_margin_gate trick reused), so every term is "
    "(+-1/4) * (x_i . x_t + 1) with no exp anywhere. Positive "
    "influence = same-label geometric alignment (training on i pushes "
    "the test loss down), negative = conflict — the cheapest member "
    "of the attribution family that ranks training data by value to "
    "a target set, beside DSIR (distribution matching) and the "
    "quality gates. Portability: the pair dot accumulates as the "
    "1e12-grid bigint (never divided per pair), the +-1 sign and the "
    "+1e12 bias-gradient term stay integer, the 5-term sum per train "
    "doc is an ORDER-FREE bigint sum, and the single reported "
    "division by 4e12 is one IEEE op — bit-portable end to end. "
    "Scale shape: 5 test vectors broadcast into a map-side scan of "
    "the train corpus, one (vec_id)-keyed combine; at 100 TB this is "
    "a pure map pass, the same plan as classifier inference.",
)
def tracin_init_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("label") == 0).cast("int").alias("y")
    )
    test = F.broadcast(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("t_id"),
            F.col("embedding").alias("t_vec"),
            F.col("y").alias("t_y"),
        )
    )
    train = emb.where(F.col("vec_id") >= 5)
    s = F.aggregate(
        F.zip_with(
            "embedding",
            "t_vec",
            lambda x, y_: F.round(
                x.cast("double") * y_.cast("double") * F.lit(1e12)
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sgn = F.when(F.col("y") == F.col("t_y"), F.lit(1)).otherwise(F.lit(-1))
    terms = train.crossJoin(test).select(
        "vec_id",
        "y",
        (sgn.cast("bigint") * (s + F.lit(10**12))).alias("term"),
    )
    return terms.groupBy("vec_id", "y").agg(
        F.sum("term").cast("bigint").alias("influence_scaled"),
        (F.sum("term").cast("bigint") / F.lit(4e12)).alias("influence"),
    )


# --- registered AFTER the r11 window froze: staged for r12 ---------------
# Three text-analysis / dedup breadth entries. All full-oracle; the
# fixture's max text length is 577 chars (sf0.1), so the oracles' char
# position relations use a 2000 cap with the WHERE g.i <= len(...)
# pattern (DuckDB range() takes no lateral column args).

_CDC_WIN = 8
_CDC_MOD = 32
_CDC_MIN_LEN = 4


@register(
    "cdc_chunk_dedup",
    f"""
    WITH b AS (
        SELECT doc_id, text, CAST(g.i AS BIGINT) AS i
        FROM documents, range({_CDC_WIN}, 2001) AS g(i)
        WHERE g.i <= len(text) AND len(text) >= {_CDC_WIN}
          AND (g.i = len(text)
               OR (CAST(('0x' || substr(md5(substr(text,
                       CAST(g.i - {_CDC_WIN - 1} AS INT), {_CDC_WIN})), 1, 8))
                   AS BIGINT) % {_CDC_MOD} = 0))
    ),
    c AS (
        SELECT doc_id,
               substr(text,
                      CAST(COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
                           + 1 AS INT),
                      CAST(i - COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
                           AS INT)) AS chunk
        FROM b
    )
    SELECT md5(chunk) AS chunk_digest,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(len(chunk)) AS BIGINT) AS chunk_len
    FROM c
    WHERE len(chunk) >= {_CDC_MIN_LEN}
    GROUP BY md5(chunk)
    HAVING COUNT(*) > 1
    """,
    "Content-defined chunk dedup (the LBFS/FastCDC family, the "
    "rolling-hash document-fingerprinting tier code-corpus pipelines "
    "use for sub-file dedup): a chunk boundary falls after byte i "
    "whenever the hash of the 8-byte window ending at i hits "
    "0 mod 32 (expected ~32-byte chunks) — INSERTIONS only shift "
    "boundaries locally, so shared spans between edited documents "
    "chunk identically, which fixed-size blocks cannot do. The entry "
    "reports every chunk digest duplicated across the corpus "
    "(n_copies, distinct docs, chunk length; sub-4-byte chunks "
    "excluded from the report). Portability: the boundary predicate "
    "is md5-derived (conv of the first 8 hex chars, mod 32) — "
    "deterministic in both engines; a production 100 TB run swaps "
    "the per-position md5 for a gear-hash Arrow kernel with the SAME "
    "boundary semantics (documented trade: this oracle-exact shape "
    "is O(n) md5s per doc). Scale shape: map-only boundary + chunk "
    "extraction entirely in codegen array expressions (no UDF, no "
    "per-position explode — positions live in a per-doc array), ONE "
    "digest-keyed exchange for the dedup report.",
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cdc_chunk_report

    return cdc_chunk_report(
        _t(spark, sf_dir, "documents"),
        window=_CDC_WIN,
        mod=_CDC_MOD,
        min_len=_CDC_MIN_LEN,
    )


@register(
    "repetition_topgram_docs",
    """
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id, 2 AS k, t[g.i] || ' ' || t[g.i + 1] AS gram
        FROM tok, range(1, 2001) AS g(i) WHERE g.i <= len(t) - 1
        UNION ALL
        SELECT doc_id, 3 AS k,
               t[g.i] || ' ' || t[g.i + 1] || ' ' || t[g.i + 2] AS gram
        FROM tok, range(1, 2001) AS g(i) WHERE g.i <= len(t) - 2
    ),
    cnt AS (
        SELECT doc_id, k, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, k, gram
    )
    SELECT doc_id, CAST(k AS INT) AS k,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS top_n,
           (MAX(c) * 100 > SUM(c) * (CASE WHEN k = 2 THEN 18 ELSE 16 END))
               AS rep_fail
    FROM cnt GROUP BY doc_id, k
    """,
    "Within-document n-gram repetition gate (Gopher, Rae et al. 2021 "
    "table A1: drop when the most frequent 2-gram exceeds 18% of all "
    "2-grams, 3-gram 16% — the repetition family of rules the "
    "gopher_quality_rules entry deliberately left to a twin because "
    "they need a per-gram aggregate, not a zero-exchange projection). "
    "One (doc, k, gram)-keyed aggregate then a (doc, k) fold; the "
    "threshold test is an exact integer cross-multiply (top*100 > "
    "total*18), never a rounded ratio. Two rows per doc (k=2,3). "
    "Scale shape: the gram relation is the exploded scan every "
    "text-dedup operator already pays; both groupBys combine "
    "map-side; no windows, no joins. The k=2/k=3 legs union two "
    "scans for lambda-type simplicity (a size<k doc would make "
    "Spark's sequence() run DESCENDING and fabricate grams; the "
    "where-guard per leg is the honest fix) — the scan is a small "
    "fraction of the exploded-gram cost.",
)
def repetition_topgram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    base = d.select("doc_id", F.split("text", " ").alias("t"))

    def gram_leg(kk: int) -> DataFrame:
        arr = F.transform(
            F.sequence(F.lit(0), F.size("t") - kk),
            lambda i: F.concat_ws(
                " ", *[F.get(F.col("t"), i + off) for off in range(kk)]
            ),
        )
        return base.where(F.size("t") >= kk).select(
            "doc_id", F.lit(kk).alias("k"), F.explode(arr).alias("gram")
        )

    cnt = (
        gram_leg(2)
        .unionByName(gram_leg(3))
        .groupBy("doc_id", "k", "gram")
        .agg(F.count("*").alias("c"))
    )
    thr = F.when(F.col("k") == 2, F.lit(18)).otherwise(F.lit(16))
    return cnt.groupBy("doc_id", "k").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.max("c").cast("bigint").alias("top_n"),
        (F.max("c") * 100 > F.sum("c") * thr).alias("rep_fail"),
    )


@register(
    "char_gini_docs",
    """
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE text IS NOT NULL
    ),
    cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_chars_counted,
           CAST(SUM(n * n) AS BIGINT) AS ssq,
           CAST(SUM(n) * SUM(n) - SUM(n * n) AS BIGINT) AS gini_num,
           CAST(SUM(n) * SUM(n) - SUM(n * n) AS DOUBLE)
               / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS char_gini
    FROM cnt GROUP BY doc_id
    """,
    "Character-diversity quality score as GINI IMPURITY (1 - sum "
    "p_i^2) instead of Shannon entropy: the standard "
    "low-diversity-text gate (boilerplate, repeated-char spam, "
    "base64 blobs score low diversity on one axis or degenerate "
    "uniformity on the other) with a portability twist — log() has "
    "no cross-engine correctly-rounded guarantee, while Gini needs "
    "only integer sums of squares: gini_num = n^2 - sum(c_i^2) is "
    "EXACT bigint arithmetic in both engines and char_gini is the "
    "single reported IEEE division. The fixture is ASCII-pinned "
    "(the mm_phash precedent), so DuckDB codepoint cells equal "
    "Spark's UTF8 char cells. Scale shape: one per-char exploded "
    "scan into a (doc, char)-keyed aggregate (alphabet-bounded "
    "groups) and a doc-keyed fold; both combine map-side, zero "
    "joins. Production note: per-char explode is the oracle-exact "
    "shape; an Arrow kernel folding the 256-bin count vector per "
    "doc is the 100 TB path with identical integer outputs.",
)
def char_gini_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n"))
    )
    s = cnt.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_chars_counted"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ssq"),
    )
    num = (
        F.col("n_chars_counted") * F.col("n_chars_counted") - F.col("ssq")
    ).cast("bigint")
    return s.select(
        "doc_id",
        "n_chars_counted",
        "ssq",
        num.alias("gini_num"),
        (
            num.cast("double")
            / (
                F.col("n_chars_counted").cast("double")
                * F.col("n_chars_counted").cast("double")
            )
        ).alias("char_gini"),
    )


@register(
    "source_unigram_tv",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (SELECT source, t, COUNT(*) AS n FROM tok GROUP BY source, t),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS N FROM c GROUP BY source),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS cna, b.n AS cnb
        FROM c a JOIN c b ON a.t = b.t AND a.source < b.source
    ),
    sagg AS (
        SELECT src_a, src_b,
               CAST(SUM(ABS(cna * tb.N - cnb * ta.N)) AS BIGINT) AS s_abs,
               CAST(SUM(cna) AS BIGINT) AS sa,
               CAST(SUM(cnb) AS BIGINT) AS sb
        FROM shared
        JOIN tot ta ON ta.source = src_a
        JOIN tot tb ON tb.source = src_b
        GROUP BY src_a, src_b
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, a.N AS na, b.N AS nb
        FROM tot a JOIN tot b ON a.source < b.source
    )
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(s.s_abs, 0)
                + (p.na - COALESCE(s.sa, 0)) * p.nb
                + (p.nb - COALESCE(s.sb, 0)) * p.na AS BIGINT) AS tv_num,
           CAST(2 * p.na * p.nb AS BIGINT) AS tv_den,
           CAST(COALESCE(s.s_abs, 0)
                + (p.na - COALESCE(s.sa, 0)) * p.nb
                + (p.nb - COALESCE(s.sb, 0)) * p.na AS DOUBLE)
               / CAST(2 * p.na * p.nb AS DOUBLE) AS tv_distance
    FROM pairs p
    LEFT JOIN sagg s ON s.src_a = p.src_a AND s.src_b = p.src_b
    """,
    "Pairwise TOTAL-VARIATION distance between per-source unigram "
    "distributions — the domain-similarity matrix a mixture designer "
    "reads before setting source weights (the same role as DSIR's "
    "importance ratios, but a symmetric metric over sources instead "
    "of per-doc weights). TV = 1/2 * sum_t |p_t - q_t| is chosen "
    "over KL exactly like char_gini chose Gini over entropy: no "
    "log(), so the numerator is EXACT integer cross-multiplication "
    "at the common denominator (|n_a*N_b - n_b*N_a| summed as "
    "bigint) and tv_distance is the single reported IEEE division; "
    "TV in [0,1], 1 = disjoint vocabularies (test-pinned). The "
    "union-over-tokens sum decomposes as SHARED tokens (inner "
    "self-join) plus two complements computed from the totals — "
    "num = S_abs + (Na - Sa)*Nb + (Nb - Sb)*Na — so no zero-filled "
    "V x S grid is ever built and pairs with NO shared vocabulary "
    "still report (seeded from the S^2 totals pair relation, "
    "TV = 1). Scale shape: one exploded scan into a (source, token) "
    "aggregate, one token-keyed self-join of the vocab-sized count "
    "relation, S-row broadcast totals; everything downstream of the "
    "first aggregate is vocabulary-sized, never corpus-sized. "
    "100 TB note: the exact bigint products need n*N < 2^63; at "
    "token counts past ~3e9 per source, pre-normalize counts to a "
    "1e6-grid fixed point (same rounding both engines) before the "
    "cross-multiply.",
)
def source_unigram_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # slot-persist the vocab-sized count relation: SIX downstream
    # references (two pair legs, totals, and the totals-pair seeds)
    # would otherwise each re-run the corpus-wide explode — the plan
    # read 6 FileScans before the persist, 1 after. Named slot bounds
    # a sweep to one cached relation (the mm_phash_dedup contract).
    c = _slot_persist(
        "source_unigram_tv.c",
        d.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("n")),
    )
    # every derived relation here shares c's lineage (totals and both
    # pair legs); globally UNIQUE column names from birth + explicit
    # join conditions keep Spark 4's self-join resolution unambiguous
    tot = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("tN"))
    ca = c.select(
        F.col("source").alias("src_a"),
        F.col("t").alias("ta"),
        F.col("n").alias("cna"),
    )
    cb = c.select(
        F.col("source").alias("src_b"),
        F.col("t").alias("tb"),
        F.col("n").alias("cnb"),
    )
    tota = tot.select(F.col("source").alias("pa"), F.col("tN").alias("na"))
    totb = tot.select(F.col("source").alias("pb"), F.col("tN").alias("nb"))
    sagg = (
        ca.join(cb, (F.col("ta") == F.col("tb")) & (F.col("src_a") < F.col("src_b")))
        .join(F.broadcast(tota), F.col("pa") == F.col("src_a"))
        .join(F.broadcast(totb), F.col("pb") == F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.abs(F.col("cna") * F.col("nb") - F.col("cnb") * F.col("na")))
            .cast("bigint")
            .alias("s_abs"),
            F.sum("cna").cast("bigint").alias("sa"),
            F.sum("cnb").cast("bigint").alias("sb"),
        )
    )
    pairs = (
        tota.crossJoin(totb)
        .where(F.col("pa") < F.col("pb"))
        .select("pa", "pb", "na", "nb")
    )
    j = pairs.join(
        sagg,
        (F.col("src_a") == F.col("pa")) & (F.col("src_b") == F.col("pb")),
        "left",
    )
    num = (
        F.coalesce(F.col("s_abs"), F.lit(0))
        + (F.col("na") - F.coalesce(F.col("sa"), F.lit(0))) * F.col("nb")
        + (F.col("nb") - F.coalesce(F.col("sb"), F.lit(0))) * F.col("na")
    )
    return j.select(
        F.col("pa").alias("src_a"),
        F.col("pb").alias("src_b"),
        num.cast("bigint").alias("tv_num"),
        (F.lit(2) * F.col("na") * F.col("nb")).cast("bigint").alias("tv_den"),
        (
            num.cast("double")
            / (F.lit(2) * F.col("na") * F.col("nb")).cast("double")
        ).alias("tv_distance"),
    )


_PC_DIM = 64
_PC_ITERS = 3
_PC_ITER_SQL = """
    w{t} AS (
        SELECT g1.i AS pos, CAST(SUM(g1.g1 * v{p}.v) AS BIGINT) AS w
        FROM g1 JOIN v{p} ON v{p}.pos = g1.j GROUP BY g1.i
    ),
    n{t} AS (SELECT sqrt(CAST(SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT))
                 AS DOUBLE)) AS nrm FROM w{t}),
    v{t} AS (SELECT pos, CAST(ROUND(CAST(w AS DOUBLE) / nrm * 1e6) AS BIGINT)
                 AS v FROM w{t}, n{t})"""


# shared oracle CTE text: the full power-iteration pipeline ending at
# v{_PC_ITERS} — reused verbatim by embedding_top_pc AND
# embedding_remove_top_pc so the two stages can never drift
_PC_CTES = f"""g AS (
        SELECT gi.i AS i, gj.j AS j,
               CAST(SUM(CAST(ROUND(CAST(embedding[gi.i] AS DOUBLE)
                   * CAST(embedding[gj.j] AS DOUBLE) * 1e12) AS BIGINT))
                   AS BIGINT) AS gv
        FROM embeddings, range(1, {_PC_DIM + 1}) gi(i),
             range(1, {_PC_DIM + 1}) gj(j)
        GROUP BY gi.i, gj.j
    ),
    g1 AS (SELECT i, j, gv // 1000000 AS g1 FROM g),
    v0 AS (SELECT gi.i AS pos, CAST(125000 AS BIGINT) AS v
           FROM range(1, {_PC_DIM + 1}) gi(i)),{
        ",".join(_PC_ITER_SQL.format(t=t, p=t - 1) for t in range(1, _PC_ITERS + 1))
    }"""


@register(
    "embedding_top_pc",
    f"""
    WITH {_PC_CTES}
    SELECT CAST(pos AS INT) AS pos, v AS pc_scaled FROM v{_PC_ITERS}
    """,
    "Top principal component of the embedding corpus by DISTRIBUTED "
    "power iteration — the spectral diagnostic the embedding family "
    "lacked (kmeans/LSH/IVF/PQ/SemDeDup/Matryoshka cover clustering "
    "and retrieval; this measures ANISOTROPY, the dominant direction "
    "whitening/de-biasing removes before cosine retrieval). Exactness "
    "chain, every step engine-portable: Gramian entries are order-free "
    "bigint sums of 1e12-grid products; the iteration matvec "
    "multiplies the 1e6-rescaled Gramian by the 1e6-scaled integer "
    "vector (exact bigint, terms <= 5e14*1e6 headroom-checked); the "
    "norm is the one IEEE sqrt over an exact sum of squares (Spark "
    "DECIMAL(38,0) == DuckDB HUGEINT, same integer, same "
    "correctly-rounded double); renormalization rounds back to the "
    "1e6 integer grid (ROUND is half-away-from-zero in both engines, "
    "`div`//`//` truncate toward zero in both — verified on negative "
    "operands). Three unrolled iterations; sign is pinned by the "
    "deterministic v0 = all-125000 start. Scale shape: ONE corpus "
    "pass builds the d^2-row Gramian (the n x d^2 pair explode is the "
    "oracle-exact shape; the 100 TB path is an Arrow kernel "
    "accumulating x x^T outer products per batch into the same "
    "order-free bigint sums), then every iteration runs on d^2 rows — "
    "corpus size never re-enters. Slot-persisted Gramian: three "
    "iterations reference it; uncached each would re-run the explode.",
)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _top_pc_vec(spark, sf_dir)
    return v.select(
        F.col("pos").cast("int").alias("pos"), F.col("v").alias("pc_scaled")
    )


def _top_pc_vec(
    spark: SparkSession, sf_dir: str, use_arrow: bool = True
) -> DataFrame:
    """The shared power-iteration pipeline: returns the 1e6-scaled
    integer top-PC vector as (pos bigint 1-based, v bigint) — consumed
    by embedding_top_pc (reported directly) and
    embedding_remove_top_pc (projection input). One text, no drift.

    ``use_arrow=True`` (default, the production path) computes the
    Gramian via operators/clustering.gramian_exact_arrow — per-batch
    outer-product partials through reused buffers, so the exchange
    carries batches x d^2 rows instead of the expression path's
    n x d^2 explode. BIT-IDENTICAL integers (the dot_exact_arrow
    signed-round argument; pinned cell-for-cell in
    tests/test_clustering.py), so the oracle hash is path-invariant —
    the same contract semdedup's use_arrow rides."""
    emb = _t(spark, sf_dir, "embeddings")
    if use_arrow:
        from ..operators.clustering import gramian_exact_arrow

        g = gramian_exact_arrow(emb, dim=_PC_DIM)
    else:
        pairs = emb.select(
            F.posexplode("embedding").alias("i0", "xi"), "embedding"
        ).select("i0", "xi", F.posexplode("embedding").alias("j0", "xj"))
        g = pairs.groupBy(
            (F.col("i0") + 1).alias("i"), (F.col("j0") + 1).alias("j")
        ).agg(
            F.sum(
                F.round(
                    F.col("xi").cast("double")
                    * F.col("xj").cast("double")
                    * F.lit(1e12)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("gv")
        )
    g1 = _slot_persist(
        "embedding_top_pc.g1",
        g.select("i", "j", F.expr("gv div 1000000").alias("g1")),
    )
    v = spark.range(1, _PC_DIM + 1).select(
        F.col("id").cast("bigint").alias("pos"),
        F.lit(125000).cast("bigint").alias("v"),
    )
    for _ in range(_PC_ITERS):
        w = (
            g1.join(v, g1["j"] == v["pos"])
            .groupBy("i")
            .agg(F.sum(F.col("g1") * F.col("v")).cast("bigint").alias("w"))
            # r14 optimization (guide §5 lineage / §2.4): w is read TWICE
            # per iteration (the norm aggregate and the renormalized v)
            # and Spark fires zero ReusedExchange across the AQE-replanned
            # subtrees, so the uncut plan re-executes iteration i's matvec
            # 2^(ITERS-i) times — 99 Exchange nodes in the before plan
            # (plans/r14/embedding_top_pc_before.txt). w is exactly
            # _PC_DIM rows (bounded by the fixed embedding dim, never by
            # corpus size), so the eager cut is a trivially small job and
            # the plan collapses to one matvec per iteration.
            .localCheckpoint(eager=True)
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(
                    F.col("w").cast("decimal(38,0)") * F.col("w").cast("decimal(38,0)")
                ).cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").cast("bigint").alias("pos"),
            F.round(F.col("w").cast("double") / F.col("nrm") * F.lit(1e6))
            .cast("bigint")
            .alias("v"),
        )
    return v


@register(
    "embedding_remove_top_pc",
    f"""
    WITH {_PC_CTES},
    ex AS (
        SELECT vec_id, CAST(gi.i AS BIGINT) AS pos,
               CAST(embedding[gi.i] AS DOUBLE) AS x
        FROM embeddings, range(1, {_PC_DIM + 1}) gi(i)
    ),
    j AS (
        SELECT ex.vec_id, ex.pos, ex.x, pc.v
        FROM ex JOIN v{_PC_ITERS} pc ON pc.pos = ex.pos
    ),
    dots AS (
        SELECT vec_id, CAST(SUM(CAST(ROUND(x * v) AS BIGINT)) AS BIGINT) AS dot_s
        FROM j GROUP BY vec_id
    )
    SELECT j.vec_id, CAST(j.pos AS INT) AS pos,
           j.x - (CAST(d.dot_s AS DOUBLE) / 1e6) * (CAST(j.v AS DOUBLE) / 1e6)
               AS value
    FROM j JOIN dots d ON d.vec_id = j.vec_id
    """,
    "All-but-the-top post-processing (Mu & Viswanath 2018): subtract "
    "each embedding's projection onto the corpus top principal "
    "component — the standard de-anisotropy step that measurably "
    "improves cosine retrieval on real embedding models. Composes the "
    "power-iteration pipeline (SAME _PC_CTES oracle text as "
    "embedding_top_pc — the two stages cannot drift) with a map-side "
    "projection: per-(vec, dim) terms ROUND(x * pc_scaled) sum to an "
    "exact bigint dot (scale 1e6), and the reported residual is the "
    "fixed IEEE tree x - (dot_s/1e6) * (pc/1e6), identical in both "
    "engines. Output posexploded to (vec_id, pos, value) scalar rows "
    "per the driver's scalar-output contract. Scale shape: the PC "
    "side is d^2-row after its one Gramian pass; the projection side "
    "is one exploded corpus scan + a 64-row broadcast join + one "
    "vec-keyed dot aggregate — the joined relation is slot-persisted "
    "because both the dot pass and the residual pass read it (uncached "
    "the whole PC pipeline would run twice).",
)
def embedding_remove_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _top_pc_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("p0", "x")).select(
        "vec_id",
        (F.col("p0") + 1).cast("bigint").alias("pos"),
        F.col("x").cast("double").alias("x"),
    )
    j = _slot_persist(
        "embedding_remove_top_pc.j", ex.join(F.broadcast(pc), "pos")
    )
    dots = j.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("v")).cast("bigint"))
        .cast("bigint")
        .alias("dot_s")
    )
    return j.join(dots, "vec_id").select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        (
            F.col("x")
            - (F.col("dot_s").cast("double") / F.lit(1e6))
            * (F.col("v").cast("double") / F.lit(1e6))
        ).alias("value"),
    )


# --------------------------------------------------------------------------
# r11 session 2: winnowing fingerprints (MOSS), sorted-neighborhood
# blocking, mutual-kNN graph
# --------------------------------------------------------------------------

# Winnowing selection, shared by both entries below. Robust winnowing
# (Schleimer/Wilkerson/Aiken 2003): min hash per w=4 window of k=8-char
# gram hashes, rightmost tie — encoded order-free as MIN over the key
# hv*4096 + (4096 - pos) (positions lint-capped at 2000 < 4096).
def _winnow_ctes(k: int, table: str = "documents") -> str:
    """Winnowing selection CTEs for gram size ``k`` (window w=4)."""
    return f"""
    h AS (
        SELECT doc_id, CAST(g.i AS BIGINT) AS i,
               CAST(('0x' || substr(md5(substr(text, CAST(g.i AS INT), {k})), 1, 8))
                    AS BIGINT) * 4096 + (4096 - CAST(g.i AS BIGINT)) AS key
        FROM {table}, range(1, 2001) AS g(i)
        WHERE text IS NOT NULL AND g.i <= len(text) - {k - 1}
    ),
    sel AS (
        SELECT doc_id, i,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS skey,
               MAX(i) OVER (PARTITION BY doc_id) AS mx
        FROM h
    ),
    fps AS (SELECT DISTINCT doc_id, skey FROM sel WHERE i + 3 <= mx)
"""


@register(
    "winnow_fingerprint_density",
    f"""
    WITH {_winnow_ctes(8)},
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps FROM fps GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(GREATEST(COALESCE(len(d.text), 0) - 7, 0) AS BIGINT) AS n_kgrams,
           CAST(GREATEST(COALESCE(len(d.text), 0) - 10, 0) AS BIGINT) AS n_windows,
           COALESCE(c.n_fps, 0) AS n_fps,
           CASE WHEN COALESCE(len(d.text), 0) >= 11
                THEN CAST(COALESCE(c.n_fps, 0) AS DOUBLE) / (len(d.text) - 10)
           END AS density
    FROM documents d LEFT JOIN cnt c USING (doc_id)
    """,
    "Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003, "
    "the MOSS algorithm) — per-document sketch size audit: hash every "
    "8-char gram, keep the min hash of each 4-hash window (rightmost "
    "tie = robust winnowing), report k-gram/window/fingerprint counts "
    "and selected density (expected ~2/(w+1) = 0.4; the paper's lower "
    "bound is 1.5/(w+1) — property-tested). Min-with-rightmost-tie is "
    "ONE array_min over the order-free key hv*4096+(4096-pos), so the "
    "selection is a pure function of the text in both engines. Spark "
    "side: hashing + selection are codegen array expressions on one "
    "row per doc (the gram-hash array pre-projected so md5 runs once "
    "per gram, not once per covering window); the only exchange is "
    "the per-doc count. Density is a raw IEEE division (bit-identical "
    "cross-engine).",
)
def winnow_fingerprint_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    cnt = (
        winnow_fingerprints(d, k=8, w=4)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_fps"))
    )
    ln = F.coalesce(F.length("text"), F.lit(0))
    nf = F.coalesce("n_fps", F.lit(0).cast("bigint"))
    return (
        d.select("doc_id", ln.alias("__len"))
        .join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            F.greatest(F.col("__len") - 7, F.lit(0)).cast("bigint").alias("n_kgrams"),
            F.greatest(F.col("__len") - 10, F.lit(0)).cast("bigint").alias("n_windows"),
            nf.alias("n_fps"),
            F.when(
                F.col("__len") >= 11,
                nf.cast("double") / (F.col("__len") - 10),
            ).alias("density"),
        )
    )


@register(
    "winnow_match_pairs",
    f"""
    WITH {_winnow_ctes(16)},
    df AS (SELECT DISTINCT doc_id, CAST(skey // 4096 AS BIGINT) AS fp FROM fps),
    ok AS (SELECT fp FROM df GROUP BY fp HAVING COUNT(*) <= 16),
    dfo AS (SELECT df.doc_id, df.fp FROM df JOIN ok USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM dfo a JOIN dfo b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 8
    """,
    "MOSS-style match report over winnowed fingerprints: document "
    "pairs sharing >= 8 distinct selected 16-char-gram hashes, exact "
    "shared count (on the word-salad fixture, true prefix-copy "
    "near-dups share ~200 fingerprints; unrelated docs sharing short "
    "vocabulary overlap stay far below the 8 cutoff — measured before "
    "pinning). The winnowing guarantee makes this a SPAN detector: "
    "any shared substring >= w+k-1 = 19 chars yields a shared "
    "fingerprint (property-tested), at ~0.4x the index size of the "
    "full gram relation. Fingerprints in > 16 distinct docs are "
    "dropped FIRST — "
    "the paper's ignore-common-matches rule, applied with the same "
    "count-first window discipline as the MinHash pre-cap (the count "
    "rides the posting exchange; no capped key ever buffers a posting "
    "list). Scale shape: one fp-keyed shuffle for postings, "
    "cap-bounded equi-join fanout (<= 64^2 per key), one pair-keyed "
    "re-group.",
)
def winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_match_pairs as wmp

    return wmp(
        _t(spark, sf_dir, "documents"), k=16, w=4, min_shared=8, max_docs_per_fp=16
    )


@register(
    "dedup_sorted_neighborhood",
    """
    WITH d AS (
        SELECT doc_id, lower(substr(text, 1, 24)) AS bkey,
               list_distinct(string_split(text, ' ')) AS ts
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT doc_id, ts,
               ROW_NUMBER() OVER (ORDER BY bkey, doc_id) AS rnk
        FROM d
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(b.rnk - a.rnk AS INT) AS gap,
               CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter_tokens,
               CAST(len(list_distinct(a.ts || b.ts)) AS BIGINT) AS union_tokens
        FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 4
    )
    SELECT doc_a, doc_b, gap, inter_tokens, union_tokens,
           inter_tokens * 2 >= union_tokens AS is_dup
    FROM p
    """,
    "Sorted-neighborhood dedup (Hernandez/Stolfo 1995 merge-purge): "
    "sort once by a cheap blocking key (lowercased 24-char text "
    "prefix), compare each record to its 4 successors only — the "
    "third blocking family next to hash blocking and LSH banding, "
    "O(n*w) candidates with no collision tuning. Candidates verified "
    "exactly: distinct-token intersection/union counts, dup flag at "
    "Jaccard >= 0.5 by integer cross-multiply. Spark side: the global "
    "order comes from the distributed rank operator "
    "(repartitionByRange + offsets, NOT a single-partition window); "
    "pairing is an EQUI-join on rank+delta with a w-fold map-side "
    "explode — no range join, no quadratic block.",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        _t(spark, sf_dir, "documents"), window=4, key_chars=24
    )


# Mutual-kNN graph, shared by both entries below. Exact-cosine top-4
# per vector (scaled-int dots, ROUND(.,3), id tiebreak — the proven
# knn_bruteforce_cosine portability kit, norms factored per-side), then
# edges whose reverse edge also exists.
_MUTUAL_KNN_CTES = """
    nrm AS (
        SELECT vec_id,
               CAST(SUM(CAST(ROUND(CAST(embedding[g.i] AS DOUBLE)
                    * CAST(embedding[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS nn
        FROM embeddings, generate_series(1, 64) AS g(i)
        GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(ROUND(CAST(q.embedding[g.i] AS DOUBLE)
                    * CAST(c.embedding[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_i
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id,
             generate_series(1, 64) AS g(i)
        GROUP BY q.vec_id, c.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND((dot_i / 1e12) / (sqrt(a.nn / 1e12) * sqrt(b.nn / 1e12)), 3) AS score
        FROM dots
        JOIN nrm a ON a.vec_id = query_id
        JOIN nrm b ON b.vec_id = neighbor_id
    ),
    edges AS (
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 4
    ),
    mut AS (
        SELECT a.query_id, a.neighbor_id, a.score,
               CAST(a.rank AS INT) AS rank, CAST(b.rank AS INT) AS rank_back
        FROM edges a JOIN edges b
          ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
    )
"""


@register(
    "knn_mutual_pairs",
    f"""
    WITH {_MUTUAL_KNN_CTES}
    SELECT query_id AS vec_a, neighbor_id AS vec_b, score,
           rank AS rank_ab, rank_back AS rank_ba
    FROM mut WHERE query_id < neighbor_id
    """,
    "Mutual-kNN pairs: exact-cosine top-4 edges where BOTH endpoints "
    "list each other — the standard symmetrization that strips the "
    "hub/outlier artifacts of high-dimensional cosine (a hub sits in "
    "everyone's top-k while reciprocating almost nobody). Kept pairs "
    "carry both ranks + the (symmetric, exactly-equal both ways) "
    "score. Scale shape: the kNN build is the pluggable baseline "
    "(swap in IVF/LSH at 100 TB); the mutuality filter is LINEAR in "
    "edges — one self-join of the n*k edge list on the reversed key, "
    "no corpus bytes move.",
)
def knn_mutual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mutual_knn_edges

    e = mutual_knn_edges(_t(spark, sf_dir, "embeddings"), k=4)
    return e.where(F.col("query_id") < F.col("neighbor_id")).select(
        F.col("query_id").alias("vec_a"),
        F.col("neighbor_id").alias("vec_b"),
        "score",
        F.col("rank").alias("rank_ab"),
        F.col("rank_back").alias("rank_ba"),
    )


@register(
    "knn_isolation_docs",
    f"""
    WITH {_MUTUAL_KNN_CTES},
    deg AS (SELECT query_id AS vec_id, COUNT(*) AS deg FROM mut GROUP BY query_id)
    SELECT e.vec_id,
           CAST(COALESCE(m.deg, 0) AS BIGINT) AS mutual_degree,
           COALESCE(m.deg, 0) = 0 AS is_isolated
    FROM embeddings e LEFT JOIN deg m USING (vec_id)
    """,
    "Embedding-space isolation scoring: per-vector mutual-kNN degree "
    "(how many of its top-4 neighbors reciprocate) and the "
    "degree-zero isolation flag — the threshold-free outlier rule for "
    "mislabeled / off-distribution documents. One groupBy over the "
    "mutual edge list, left-joined to the id-only (column-pruned) "
    "corpus scan.",
)
def knn_isolation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_isolation

    return knn_isolation(_t(spark, sf_dir, "embeddings"), k=4)


# --------------------------------------------------------------------------
# r11 session 2: label-propagation communities, time-series
# autocorrelation diagnostics
# --------------------------------------------------------------------------

_LPA_STEPS = 3


def _lpa_step_sql(i: int) -> str:
    return f"""
    c{i} AS (
        SELECT s.dst AS node, l.label, COUNT(*) AS c
        FROM sym s JOIN l{i - 1} l ON l.node = s.src
        GROUP BY s.dst, l.label
    ),
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, label) AS rn
            FROM c{i}
        ) WHERE rn = 1
    )"""


@register(
    "label_prop_communities",
    f"""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
        SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {",".join(_lpa_step_sql(i) for i in range(1, _LPA_STEPS + 1))}
    SELECT node AS partkey, CAST(label AS BIGINT) AS community
    FROM l{_LPA_STEPS}
    """,
    "Community detection by synchronous label propagation (Raghavan "
    "et al. 2007) over the co-purchase graph: every node starts as "
    "its own label; each superstep every node adopts the MOST "
    "FREQUENT label among its neighbors, ties broken by smallest "
    "label — the deterministic synchronous variant (the paper's "
    "random asynchronous order is irreproducible by design; min-tie "
    "synchronous LPA is a pure function of the graph), 3 supersteps "
    "unrolled in both engines so intermediate states match too. "
    "Completes the graph family: CC (connectivity), PageRank "
    "(centrality), BFS (distance), triangles (cohesion), LPA "
    "(community). Scale shape: one edge-sized join + one (node, "
    "label)-keyed count + one rank window per superstep — Pregel as "
    "a driver loop, frontier state is 2 columns per node; deep runs "
    "adopt the CC operator's localCheckpoint cadence (3 stays "
    "shallow).",
)
def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import label_propagation
    from .catalog_scale import _copurchase_edges

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    labels = label_propagation(_copurchase_edges(li), steps=_LPA_STEPS)
    return labels.select(
        F.col("node").alias("partkey"),
        F.col("label").cast("bigint").alias("community"),
    )


_AC_MAX_LAG = 6


@register(
    "events_autocorr_lags",
    f"""
    WITH c AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    p AS (
        SELECT l.lag AS lag, a.x AS x, b.x AS y
        FROM range(1, {_AC_MAX_LAG + 1}) AS l(lag)
        CROSS JOIN c a
        JOIN c b ON b.h = a.h + l.lag * 3600
    ),
    s AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM p GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n AS n_pairs, sx, sy, sxy,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS autocorr
    FROM s
    """,
    "Time-series autocorrelation diagnostics: Pearson r of the hourly "
    "event-count series against itself at lags 1..6 hours — the "
    "periodicity / burstiness probe that decides windowing and "
    "watermark budgets for a streaming pipeline. Every moment is an "
    "EXACT bigint sum over integer counts (n, Sx, Sy, Sxy, Sxx, Syy "
    "all cross the oracle boundary as integers); r itself is two IEEE "
    "sqrts and one division over exact integers — bit-identical "
    "cross-engine, NULL when a lag's series is constant. Scale shape: "
    "the hourly aggregate map-side combines to calendar-bounded "
    "cardinality (one row per observed hour); the lag join widens "
    "that bounded relation {_AC_MAX_LAG}-fold and re-aggregates to "
    "{_AC_MAX_LAG} rows — the only corpus-sized work is the first "
    "scan. Missing hours produce no pair (observed-hours semantics; "
    "the gapfill entry owns the dense-spine variant).",
)
def events_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h")
        )
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    left = c.select(
        "h",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(_AC_MAX_LAG))).alias("lag"),
    ).withColumn("h2", F.col("h") + F.col("lag") * 3600)
    right = c.select(F.col("h").alias("h2"), F.col("x").alias("y"))
    s = (
        left.join(right, "h2")
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        )
    )
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        "sx",
        "sy",
        "sxy",
        F.when(
            (denx > 0) & (deny > 0),
            num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
        ).alias("autocorr"),
    )


# --------------------------------------------------------------------------
# r11 session 2: KMV distinct sketch (the hash-checkable approx-distinct),
# robust statistics (MAD)
# --------------------------------------------------------------------------

_KMV_K = 64


@register(
    "kmv_distinct_users",
    f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS nh
        FROM h
    ),
    sk AS (
        SELECT event_type,
               CAST(MAX(nh) AS BIGINT) AS n_hashes,
               CAST(MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS BIGINT) AS kth_hash
        FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, e.n_exact, s.n_hashes, s.kth_hash,
           CASE WHEN s.n_hashes >= {_KMV_K}
                THEN {_KMV_K - 1} * 4294967296.0 / s.kth_hash
                ELSE CAST(s.n_hashes AS DOUBLE)
           END AS kmv_estimate
    FROM sk s JOIN ex e USING (event_type)
    """,
    "Distinct-count sketching that the ORACLE CAN CHECK: a K-minimum-"
    "values sketch (Bar-Yossef et al. 2002 / the Theta-sketch "
    "family) — keep the 64 smallest md5-derived 32-bit hashes of the "
    "distinct user set per event type; estimate = (k-1) * 2^32 / "
    "h_(k), exact when fewer than k distinct hashes exist. Unlike the "
    "HLL rows (engine-internal hashing -> rows-only by design), every "
    "column here crosses the oracle boundary bit-identically: the "
    "sketch IS deterministic given md5. The exact COUNT(DISTINCT) "
    "rides along, so the row self-reports its own error. Scale shape: "
    "one distinct-hash shuffle; the per-type top-k runs through "
    "WindowGroupLimit (partial top-k BEFORE the exchange, Spark 4), "
    "so only k rows per type cross after the map-side prune — and the "
    "sketch is MERGEABLE (min-k of a union == min-k of per-partition "
    "min-k's, property-tested), which is what makes it an MV-grade "
    "summary at 100 TB.",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import kmv_sketch

    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_type", "user_id", k=_KMV_K)
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return sk.join(ex, "event_type").select(
        "event_type", "n_exact", "n_hashes", "kth_hash", "kmv_estimate"
    )


@register(
    "stats_mad_by_type",
    """
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
    ),
    med AS (
        SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n,
               MAX(CASE WHEN rn = (cnt + 1) // 2 THEN value END) AS med
        FROM ranked GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, ABS(e.value - m.med) AS d, e.event_id
        FROM events e JOIN med m USING (event_type)
    ),
    dranked AS (
        SELECT event_type, d,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY d, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM dev
    )
    SELECT m.event_type, m.n, m.med AS median_value,
           dr.mad
    FROM med m JOIN (
        SELECT event_type,
               MAX(CASE WHEN rn = (cnt + 1) // 2 THEN d END) AS mad
        FROM dranked GROUP BY event_type
    ) dr USING (event_type)
    """,
    "Robust dispersion: median absolute deviation per event type — "
    "the outlier-resistant scale estimate (50% breakdown point where "
    "stddev's is 0%) every data-quality gate wants next to "
    "stats_moments_exact. Both medians are rank-PICKED lower medians "
    "((n+1)//2-th element, ties broken by event_id), never "
    "interpolated — interpolation differs across engines in the last "
    "ulp, picked elements are bit-portable; the deviation |x - med| "
    "is one exact IEEE op. Scale shape: two rank windows over the "
    "same type-keyed exchange plus one broadcast-size median join — "
    "same cost family as median_disc_by_type, run twice.",
)
def stats_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max("cnt").cast("bigint").alias("n"),
        F.max(
            F.when(F.col("rn") == F.floor((F.col("cnt") + 1) / 2), F.col("value"))
        ).alias("med"),
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("d"),
        "event_id",
    )
    wd = Window.partitionBy("event_type").orderBy("d", "event_id")
    dranked = dev.select(
        "event_type",
        "d",
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("cnt"),
    )
    mad = dranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.floor((F.col("cnt") + 1) / 2), F.col("d"))
        ).alias("mad")
    )
    return med.join(mad, "event_type").select(
        "event_type", "n", F.col("med").alias("median_value"), "mad"
    )


_GRADED_CORPUS_SQL = """
    mh_corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(list_slice(string_split(text, ' '), 1,
                   GREATEST(9, (len(string_split(text, ' '))
                       * ((doc_id % 8) + 2)) // 10)), ' ') AS text
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               array_to_string(list_slice(ts,
                   GREATEST(LEAST((len(ts) * ((doc_id % 8) + 2)) // 10,
                                  len(ts) - 9), 0) + 1,
                   len(ts)), ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS ts
              FROM documents WHERE doc_id % 20 = 10)
    )
"""


@register(
    "blocking_recall_eval",
    f"""
    WITH {_GRADED_CORPUS_SQL},
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM mh_corpus
        WHERE doc_id IS NOT NULL
    ),
    sh AS (
        SELECT DISTINCT doc_id, ts[g.i] || ' ' || ts[g.i+1] || ' ' || ts[g.i+2]
               || ' ' || ts[g.i+3] || ' ' || ts[g.i+4] AS shingle
        FROM toks, range(1, 100001) AS g(i)
        WHERE g.i <= len(ts) - 4
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    tj AS (
        SELECT t.doc_a, t.doc_b,
               CAST(t.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - t.inter) AS j
        FROM truth t
        JOIN sizes sa ON sa.doc_id = t.doc_a
        JOIN sizes sb ON sb.doc_id = t.doc_b
        WHERE CAST(t.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - t.inter) >= 0.1
    ),
    snm_r AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY lower(substr(text, 1, 24)), doc_id) AS rnk
        FROM mh_corpus WHERE text IS NOT NULL
    ),
    snm_c AS (
        SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
               GREATEST(a.doc_id, b.doc_id) AS doc_b
        FROM snm_r a JOIN snm_r b ON b.rnk - a.rnk BETWEEN 1 AND 4
    ),
    {_winnow_ctes(16, "mh_corpus")},
    wdf AS (SELECT DISTINCT doc_id, CAST(skey // 4096 AS BIGINT) AS fp FROM fps),
    wok AS (SELECT fp FROM wdf GROUP BY fp HAVING COUNT(*) <= 16),
    wdfo AS (SELECT wdf.doc_id, wdf.fp FROM wdf JOIN wok USING (fp)),
    win_c AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM wdfo a JOIN wdfo b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 2
    ),
    lab AS (
        SELECT 'snm' AS tier, CAST(FLOOR(tj.j * 10) AS INT) AS j_decile,
               CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM tj LEFT JOIN snm_c c
            ON c.doc_a = tj.doc_a AND c.doc_b = tj.doc_b
        UNION ALL
        SELECT 'winnow' AS tier, CAST(FLOOR(tj.j * 10) AS INT) AS j_decile,
               CASE WHEN w.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM tj LEFT JOIN win_c w
            ON w.doc_a = tj.doc_a AND w.doc_b = tj.doc_b
    )
    SELECT tier, j_decile,
           CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           CAST(SUM(hit) AS BIGINT) AS n_captured,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS capture_rate
    FROM lab GROUP BY tier, j_decile
    """,
    "Recall S-curves for the two NEW blocking families, measured the "
    "way lsh_candidate_recall measures banded MinHash, on a graded "
    "corpus with TWO edit types: prefix-truncated copies (doc_id%20 "
    "== 0, the lsh harness's construction) AND suffix-truncated "
    "copies (doc_id%20 == 10, first tokens dropped — engineered to "
    "break SNM's 24-char prefix blocking key while preserving the "
    "long shared spans winnowing keys on): per (tier, decile), the "
    "fraction of true >= 0.1-Jaccard pairs that sorted-neighborhood "
    "(w=4, 24-char key) and winnowed-fingerprint matching (k=16, "
    ">= 2 shared) surface as candidates. The biases this table makes "
    "measurable: SNM is PREFIX-biased (prefix-truncated near-dups "
    "sort adjacent -> strong capture; suffix-edited dups would not), "
    "winnowing is SPAN-biased (captures any pair sharing >= 2 long-"
    "enough spans regardless of sort position) — measured at sf0.01: "
    "SNM captures the prefix family fully and misses most of the "
    "suffix family; winnowing captures both. Truth is the exact "
    "quadratic shingle-Jaccard verifier — an EVALUATION query, run "
    "on a sample at 100 TB; the candidate sides are the production "
    "one-exchange paths.",
)
def blocking_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dd
    from ..operators.dedup import sorted_neighborhood_pairs
    from ..operators.dedup import winnow_match_pairs as wmp

    raw = _t(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    kcol = F.greatest(
        F.lit(9),
        F.expr("(size(split(text, ' ')) * ((doc_id % 8) + 2)) div 10"),
    )
    copies = raw.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(ts, F.lit(1), kcol), " ").alias("text"),
    )
    # suffix-truncated copies: first tokens DROPPED — breaks the SNM
    # 24-char blocking key while leaving long shared spans for winnow
    drop = F.greatest(
        F.least(
            F.expr("(size(split(text, ' ')) * ((doc_id % 8) + 2)) div 10"),
            F.size(ts) - 9,
        ),
        F.lit(0),
    )
    suffixes = raw.where(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(ts, drop + 1, F.size(ts) - drop), " ").alias("text"),
    )
    docs = raw.select("doc_id", "text").unionByName(copies).unionByName(suffixes)
    truth = dd.ngram_jaccard_pairs(docs, shingle_n=5, threshold=0.1).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j")
    )
    snm = (
        sorted_neighborhood_pairs(docs, window=4, key_chars=24)
        .select(
            F.least("doc_a", "doc_b").alias("pa"),
            F.greatest("doc_a", "doc_b").alias("pb"),
        )
        .distinct()
        .select(F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
    )
    win = wmp(docs, k=16, w=4, min_shared=2, max_docs_per_fp=16).select(
        "doc_a", "doc_b"
    )

    def lab(cands: DataFrame, tier: str) -> DataFrame:
        hit = cands.withColumn("__hit", F.lit(1))
        return truth.join(hit, ["doc_a", "doc_b"], "left").select(
            F.lit(tier).alias("tier"),
            F.floor(F.col("j") * 10).cast("int").alias("j_decile"),
            F.coalesce("__hit", F.lit(0)).alias("hit"),
        )

    return (
        lab(snm, "snm")
        .unionByName(lab(win, "winnow"))
        .groupBy("tier", "j_decile")
        .agg(
            F.count("*").cast("bigint").alias("n_truth_pairs"),
            F.sum("hit").cast("bigint").alias("n_captured"),
            (F.sum("hit").cast("double") / F.count("*")).alias("capture_rate"),
        )
    )


_BLOOM_BITS = 4096
_BLOOM_K = 3
_BLOOM_PRICE = 450000.0


@register(
    "bloom_prefilter_join",
    f"""
    WITH keys AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_totalprice > {_BLOOM_PRICE}
    ),
    kprobes AS (
        SELECT o_custkey,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '-'
                    || CAST(t.t AS VARCHAR)), 1, 8)) AS BIGINT)
                    % {_BLOOM_BITS} AS idx
        FROM keys, range(0, {_BLOOM_K}) AS t(t)
    ),
    filt AS (
        SELECT idx // 32 AS word,
               BIT_OR(CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) AS bits
        FROM kprobes GROUP BY idx // 32
    ),
    eprobes AS (
        SELECT e.event_id, e.user_id, t.t AS probe,
               CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || '-'
                    || CAST(t.t AS VARCHAR)), 1, 8)) AS BIGINT)
                    % {_BLOOM_BITS} AS idx
        FROM events e, range(0, {_BLOOM_K}) AS t(t)
    ),
    hits AS (
        SELECT p.event_id, p.user_id,
               COUNT(*) FILTER (WHERE f.bits IS NOT NULL
                   AND (f.bits & (CAST(1 AS BIGINT) << CAST(p.idx % 32 AS INT)))
                       <> 0) AS n_set
        FROM eprobes p LEFT JOIN filt f ON f.word = p.idx // 32
        GROUP BY p.event_id, p.user_id
    ),
    lab AS (
        SELECT h.event_id,
               h.n_set = {_BLOOM_K} AS bloom_pass,
               k.o_custkey IS NOT NULL AS is_member
        FROM hits h LEFT JOIN keys k ON k.o_custkey = h.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_members,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_pass THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_negatives,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
               AS DOUBLE)
               / NULLIF(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 0)
               AS false_positive_rate
    FROM lab
    """,
    "Bloom-filter join pruning with EXACT accounting — the classic "
    "big-join reduction (runtime row-level filtering; what Spark's "
    "InjectRuntimeFilter does engine-internally, rebuilt here "
    "PORTABLY so the oracle can hash it): a 4096-bit / 3-probe bloom "
    "over the high-value-order customer set, encoded as 128 bigint "
    "words of 32 bits each (bit 63 shifts OVERFLOW DuckDB's << where "
    "Spark wraps — 32-bit words keep both engines defined) via "
    "BIT_OR of md5-derived probe bits; every event tests "
    "all 3 probes against the broadcast word table. The row reports "
    "the exact confusion counts — false negatives PROVABLY zero "
    "(property of the construction, also a test), measured FPR vs "
    "the ~(1-e^(-kn/m))^k theory bound. Scale shape: the filter "
    "build is one groupBy of |S|*k probe rows into 128 words; the "
    "probe side touches the big table map-only against a broadcast "
    "128-row relation — the semi-join's shuffle of the BIG side is "
    "what the bloom removes at 100 TB.",
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import bloom_words, bloom_confusion

    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    keys = (
        o.where(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    filt = bloom_words(keys, "key", m_bits=_BLOOM_BITS, k=_BLOOM_K)
    return bloom_confusion(
        ev.select("event_id", F.col("user_id").alias("key")),
        keys,
        filt,
        m_bits=_BLOOM_BITS,
        k=_BLOOM_K,
    )


@register(
    "als_user_factors",
    """
    WITH r AS (
        SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    ),
    v AS (
        SELECT r.*,
               CAST(('0x' || substr(md5(CAST(partkey AS VARCHAR) || '-f1'), 1, 8))
                    AS BIGINT) % 19 - 9 AS v1,
               CAST(('0x' || substr(md5(CAST(partkey AS VARCHAR) || '-f2'), 1, 8))
                    AS BIGINT) % 19 - 9 AS v2
        FROM r
    ),
    nrm AS (
        SELECT custkey,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(v1 * v1) AS BIGINT) + 1 AS a11,
               CAST(SUM(v1 * v2) AS BIGINT) AS a12,
               CAST(SUM(v2 * v2) AS BIGINT) + 1 AS a22,
               CAST(SUM(qty * v1) AS BIGINT) AS b1,
               CAST(SUM(qty * v2) AS BIGINT) AS b2
        FROM v GROUP BY custkey
    )
    SELECT custkey, n_items,
           CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det,
           CAST(b1 * a22 - b2 * a12 AS DOUBLE)
               / (a11 * a22 - a12 * a12) AS x1,
           CAST(a11 * b2 - a12 * b1 AS DOUBLE)
               / (a11 * a22 - a12 * a12) AS x2
    FROM nrm
    """,
    "One exact half-step of alternating least squares — the implicit-"
    "feedback recommender bootstrap (Hu/Koren/Volinsky 2008 shape, "
    "lambda = 1): item factors are DETERMINISTIC 2-dim integer "
    "vectors derived from md5(partkey) (the fixed side of the "
    "alternation), each customer's factor solves the ridge normal "
    "equations (V_u' V_u + I) x = V_u' r_u in closed form via 2x2 "
    "CRAMER — every determinant and cofactor is an exact bigint over "
    "the user's rated items, so the whole solve crosses the oracle "
    "boundary as integers plus exactly TWO IEEE divisions per user. "
    "Completes the ML family line-up (k-means, logreg, power "
    "iteration, TracIn, now factorization) with the same exact-"
    "arithmetic discipline. Scale shape: one fact-fact join + one "
    "(user, item)-keyed aggregate + one user-keyed map-side-"
    "combinable fold into 5 integers per user; factors are DERIVED, "
    "never stored or broadcast — at 100 TB the alternation's other "
    "half is the same plan with the roles swapped.",
)
def als_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )

    def _f(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("partkey").cast("string"), F.lit(tag))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 19
            - 9
        )

    v = r.select("custkey", "qty", _f("-f1").alias("v1"), _f("-f2").alias("v2"))
    nrm = v.groupBy("custkey").agg(
        F.count("*").cast("bigint").alias("n_items"),
        (F.sum(F.col("v1") * F.col("v1")).cast("bigint") + 1).alias("a11"),
        F.sum(F.col("v1") * F.col("v2")).cast("bigint").alias("a12"),
        (F.sum(F.col("v2") * F.col("v2")).cast("bigint") + 1).alias("a22"),
        F.sum(F.col("qty") * F.col("v1")).cast("bigint").alias("b1"),
        F.sum(F.col("qty") * F.col("v2")).cast("bigint").alias("b2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return nrm.select(
        "custkey",
        "n_items",
        det.cast("bigint").alias("det"),
        (
            (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")).cast("double")
            / det
        ).alias("x1"),
        (
            (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")).cast("double")
            / det
        ).alias("x2"),
    )


_RCTE_BODY = """
    e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM {li} a JOIN {li} b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
        SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
    ),
    reach(node, hop) AS (
        SELECT p_partkey AS node, 0 AS hop FROM {part}
        WHERE p_partkey % 97 = 0
        UNION ALL
        SELECT s.dst AS node, r.hop + 1 AS hop
        FROM reach r JOIN sym s ON s.src = r.node
        WHERE r.hop < 2
    )
    SELECT node AS partkey, CAST(MIN(hop) AS INT) AS hop
    FROM reach GROUP BY node
"""


@register(
    "recursive_cte_reachability",
    "WITH RECURSIVE " + _RCTE_BODY.format(li="lineitem", part="part"),
    "Spark 4 RECURSIVE CTE coverage: min-hop reachability (<= 2 hops) "
    "from the %97 seed parts over the co-purchase graph, written as "
    "ONE `WITH RECURSIVE` that BOTH engines execute verbatim (table "
    "names aside) — the SQL-native twin of bfs_copurchase_hops' "
    "driver-loop supersteps, exercising the engine's own fixpoint "
    "operator instead of hand-rolled iteration. Spark 4.1 supports "
    "only the UNION ALL recursion variant (UNION-distinct raises "
    "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the recursion "
    "enumerates PATHS, not nodes — the depth bound (hop < 2, ~deg^2 "
    "x seeds ~ 3M path rows at sf0.1, measured before pinning) is "
    "what keeps UNION ALL recursion tractable; the driver-loop BFS "
    "stays the production shape for deeper traversals because its "
    "per-superstep MIN-aggregate dedups the frontier, which UNION "
    "ALL recursion cannot. MIN(hop) collapses paths to distances at "
    "the end.",
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNION ALL recursion counts PATHS against the safety cap
    # (spark.sql.cteRecursionRowLimit, default 1M): the sf0.1 graph's
    # ~3M depth-2 paths trip it. Runtime conf, session-scoped — the
    # bound stays a real guard, just sized to the measured path volume.
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(8_000_000))
    _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).createOrReplaceTempView("__rcte_lineitem")
    _t(spark, sf_dir, "part").select("p_partkey").createOrReplaceTempView(
        "__rcte_part"
    )
    return spark.sql(
        "WITH RECURSIVE " + _RCTE_BODY.format(li="__rcte_lineitem", part="__rcte_part")
    )


@register(
    "dedup_containment_pairs",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, ts[g.i] || ' ' || ts[g.i+1] || ' ' || ts[g.i+2]
               || ' ' || ts[g.i+3] || ' ' || ts[g.i+4] AS shingle
        FROM toks, range(1, 100001) AS g(i)
        WHERE g.i <= len(ts) - 4
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst,
               CAST(COUNT(*) AS BIGINT) AS inter_shingles
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_src, doc_dst, inter_shingles,
           CAST(ss.n_sh AS BIGINT) AS n_src, CAST(sd.n_sh AS BIGINT) AS n_dst,
           CAST(inter_shingles AS DOUBLE) / ss.n_sh AS containment
    FROM inter
    JOIN sizes ss ON ss.doc_id = doc_src
    JOIN sizes sd ON sd.doc_id = doc_dst
    WHERE inter_shingles * 1000 >= ss.n_sh * 900
    """,
    "Asymmetric containment near-dup (Broder's containment "
    "coefficient |A∩B|/|A| >= 0.9): the QUOTE/SUBSET detector "
    "symmetric Jaccard structurally misses — a short doc fully "
    "contained in a long one scores containment 1.0 while Jaccard "
    "sits at |A|/|B| (on the fixture's prefix-truncated near-dups, "
    "copy->original containment is exactly 1.0 where Jaccard reports "
    "~the kept fraction; test-pinned). Directional rows, integer "
    "cross-multiply gate, raw IEEE ratio. Same inverted-index scale "
    "discipline as the Jaccard verifier (one shingle-keyed exchange; "
    "quadratic worst case -> run on LSH candidates at 100 TB).",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=5, threshold=0.9
    )


@register(
    "orders_abc_analysis",
    """
    WITH rev AS (
        SELECT l_partkey AS partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
                   AS revenue
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(SUM(revenue) * 10000 AS BIGINT) AS total_c FROM rev
    ),
    r AS (
        SELECT partkey, revenue,
               CAST(ROW_NUMBER() OVER w AS INT) AS rnk,
               CAST(SUM(revenue) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) * 10000 AS BIGINT)
                   AS cum_c
        FROM rev
        WINDOW w AS (ORDER BY revenue DESC, partkey)
    )
    SELECT partkey, CAST(revenue AS DOUBLE) AS revenue, rnk,
           CASE WHEN cum_c * 5 <= t.total_c * 4 THEN 'A'
                WHEN cum_c * 20 <= t.total_c * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r, tot t
    """,
    "ABC / Pareto revenue classification per part (the 80/95 "
    "warehouse cut): rank parts by exact decimal revenue, classify by "
    "cumulative share — A while cum <= 80% of total, B to 95%, C "
    "after — decided on BIGINT cents via integer cross-multiply "
    "(cum_c*5 <= total_c*4), never a float share. Spark side runs the "
    "DISTRIBUTED prefix sum (repartitionByRange on (revenue DESC, "
    "partkey) + per-partition running sums + P-row broadcast offsets "
    "— sample_token_budget's machinery, with the same persist-the-"
    "ranged-relation rule: prefix offsets are only correct against "
    "the exact partitioning the local sums used), NOT a single-"
    "partition window; the oracle's window is DuckDB-side only. "
    "Classification input is the dimension-sized per-part aggregate, "
    "so the broadcast offset relation is P rows regardless of fact "
    "volume.",
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(30,4)"
            )
        ).alias("revenue")
    )
    n_parts = max(int(rev.sparkSession.sparkContext.defaultParallelism), 2)
    ranged = rev.repartitionByRange(
        n_parts, F.desc("revenue"), F.asc("partkey")
    ).withColumn("__pid", F.spark_partition_id())
    wl = Window.partitionBy("__pid").orderBy(F.desc("revenue"), F.asc("partkey"))
    local = (
        ranged.withColumn("__cum_local", F.sum("revenue").over(wl))
        .withColumn("__rn_local", F.row_number().over(wl))
        .persist()
    )
    totals = (
        local.groupBy("__pid")
        .agg(
            F.max("__cum_local").alias("__tot_rev"),
            F.count("*").alias("__tot_n"),
        )
        .withColumn(
            "__off_rev",
            F.coalesce(
                F.sum("__tot_rev").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0).cast("decimal(38,4)"),
            ),
        )
        .withColumn(
            "__off_n",
            F.coalesce(
                F.sum("__tot_n").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off_rev", "__off_n")
    )
    total_c = rev.agg(
        (F.sum("revenue") * 10000).cast("bigint").alias("total_c")
    )
    cum_c = (
        (F.col("__off_rev") + F.col("__cum_local")) * 10000
    ).cast("bigint")
    return (
        local.join(F.broadcast(totals), "__pid")
        .crossJoin(F.broadcast(total_c))
        .select(
            "partkey",
            F.col("revenue").cast("double").alias("revenue"),
            (F.col("__off_n") + F.col("__rn_local")).cast("int").alias("rnk"),
            F.when(cum_c * 5 <= F.col("total_c") * 4, F.lit("A"))
            .when(cum_c * 20 <= F.col("total_c") * 19, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )


# Greedy longest-match segmentation vocab (fixed, ASCII): 4-char
# pieces, 3-char pieces, 2-char digraphs. Order inside each tier is
# irrelevant (IN-list); tiers are tried longest-first.
_WP_V4 = "'scan','sort','join','hash','part','wind','tabl','batc'"
_WP_V3 = "'the','str','key','row','ord','sma','mer','spa','dup'"
_WP_V2 = (
    "'er','in','an','re','at','or','st','ar','te','ow','ha','me','sc',"
    "'jo','ta','ke','sp','du','wi','ba','sm','fa','pa','le','ll','am',"
    "'as','ab','tc','h ','e ','t ','n ','d ','k ','w ',' s',' t',' b',' w'"
)
_WP_CAP = 64


def _wp_len_sql(t: str, p: str) -> str:
    return f"""CASE
        WHEN substr({t}, {p}, 4) IN ({_WP_V4}) THEN 4
        WHEN substr({t}, {p}, 3) IN ({_WP_V3}) THEN 3
        WHEN substr({t}, {p}, 2) IN ({_WP_V2}) THEN 2
        ELSE 1 END"""


def _wp_sql(docs: str) -> str:
    cap = f"CASE WHEN length(d.text) < {_WP_CAP} THEN length(d.text) ELSE {_WP_CAP} END"
    ln = _wp_len_sql("d.text", "s.pos")
    return f"""
    seg(doc_id, pos, n_pieces, n_unk) AS (
        SELECT doc_id, 1 AS pos, 0 AS n_pieces, 0 AS n_unk
        FROM {docs} WHERE text IS NOT NULL
        UNION ALL
        SELECT s.doc_id,
               s.pos + {ln} AS pos,
               s.n_pieces + 1 AS n_pieces,
               s.n_unk + CASE WHEN {ln} = 1 THEN 1 ELSE 0 END AS n_unk
        FROM seg s JOIN {docs} d ON d.doc_id = s.doc_id
        WHERE s.pos <= {cap}
    )
    SELECT s.doc_id,
           CAST(s.n_pieces AS INT) AS n_pieces,
           CAST(s.n_unk AS INT) AS n_unk,
           CAST({cap} AS INT) AS n_chars
    FROM seg s JOIN {docs} d ON d.doc_id = s.doc_id
    WHERE s.pos > {cap}
"""


@register(
    "wordpiece_prefix_segment",
    "WITH RECURSIVE " + _wp_sql("documents"),
    "Greedy longest-match-first subword segmentation (the WordPiece/"
    "SentencePiece inference rule) over each document's first 64 "
    "chars, as ONE recursive CTE BOTH engines execute verbatim: the "
    "cursor state (doc, pos, n_pieces, n_unk) advances by the longest "
    "vocab piece matching at pos (4-char pieces, then 3, then 2-char "
    "digraphs, else a single-char UNK advance), the inherently "
    "SEQUENTIAL-per-document scan that batch dataflow cannot express "
    "— and exactly what recursive CTEs are for: every document's "
    "cursor advances in parallel per iteration, recursion depth = "
    "max pieces per doc (<= 64 here, inside Spark's default level "
    "limit of 100; the 64-char cap is the depth budget, documented — "
    "full-text segmentation at 100 TB belongs to an Arrow kernel "
    "with this rule, the oracle-exact shape is the recursion). "
    "Complements the BPE tier: BPE learns merges bottom-up, "
    "WordPiece inference consumes a FIXED vocab greedily. Terminal "
    "rows (pos past the cap) are unique per doc; counts are exact "
    "integers.",
)
def wordpiece_prefix_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total recursion rows = docs x steps (<= 64/doc): ~225k at sf0.1,
    # ~3.6M at the 16x scale cell — size the engine guard to the
    # measured volume so it still guards (same rule as the
    # reachability entry)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(32_000_000))
    _t(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(
        "__wp_documents"
    )
    return spark.sql("WITH RECURSIVE " + _wp_sql("__wp_documents"))


@register(
    "events_cusum_changepoint",
    """
    WITH c AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS tot FROM c),
    p AS (
        SELECT h, x,
               CAST(SUM(x * t.n - t.tot) OVER (
                   ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS pref
        FROM c, t
    ),
    s AS (
        SELECT h, x,
               CAST(pref - MIN(pref) OVER (
                   ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cusum
        FROM p
    ),
    pk AS (SELECT MIN(h) AS ph FROM s WHERE cusum = (SELECT MAX(cusum) FROM s))
    SELECT s.h AS hour_sec, s.x AS n_events, s.cusum,
           s.h = pk.ph AS is_change_peak
    FROM s, pk
    """,
    "CUSUM change-point detection over the hourly event-count series "
    "(Page 1954, the k = global-mean one-sided chart): the upward "
    "CUSUM S_t = max over prefixes of the cumulative deviation is "
    "computed WITHOUT recursion or any division via the prefix-sum "
    "identity S_t = P_t - min_{j<=t} P_j with INTEGER deviations "
    "d_t = x_t*n - total (mean-centering cross-multiplied away) — "
    "every cusum value crosses the oracle boundary as an exact "
    "bigint; the argmax hour (earliest on ties) is flagged "
    "is_change_peak. Completes the time-series diagnostics family "
    "(gapfill, EWMA, autocorrelation, now change-point). Scale "
    "shape: the hourly aggregate map-side combines to "
    "calendar-bounded cardinality; the two running windows scan that "
    "bounded series once (the gapfill spine note applies — series "
    "length grows with the CALENDAR, not data volume).",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h")
    ).agg(F.count("*").cast("bigint").alias("x"))
    t = c.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("tot"),
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    p = c.crossJoin(F.broadcast(t)).withColumn(
        "pref",
        F.sum(F.col("x") * F.col("n") - F.col("tot")).over(w).cast("bigint"),
    )
    s = p.withColumn(
        "cusum", (F.col("pref") - F.min("pref").over(w)).cast("bigint")
    ).select("h", "x", "cusum")
    mx = s.agg(F.max("cusum").alias("mc"))
    pk = (
        s.crossJoin(F.broadcast(mx))
        .where(F.col("cusum") == F.col("mc"))
        .agg(F.min("h").alias("ph"))
    )
    return s.crossJoin(F.broadcast(pk)).select(
        F.col("h").alias("hour_sec"),
        F.col("x").alias("n_events"),
        "cusum",
        (F.col("h") == F.col("ph")).alias("is_change_peak"),
    )


_NEYMAN_BUDGET = 10000


@register(
    "neyman_allocation_docs",
    f"""
    WITH st AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(len(text) AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(len(text) AS BIGINT) * CAST(len(text) AS BIGINT))
                    AS BIGINT) AS sxx
        FROM documents WHERE text IS NOT NULL GROUP BY lang
    ),
    wgt AS (
        SELECT lang, n_docs,
               CAST(ROUND(n_docs * (sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE))
                                    / CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
                   AS w_scaled
        FROM st
    ),
    tw AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS wt FROM wgt)
    SELECT w.lang, w.n_docs, w.w_scaled,
           CAST(({_NEYMAN_BUDGET} * w.w_scaled) // t.wt AS BIGINT) AS alloc
    FROM wgt w, tw t
    """,
    "Neyman-optimal stratified sample allocation (the variance-"
    "minimizing design, n_h ∝ N_h * S_h) per language over document "
    "lengths: the third allocation design next to proportional "
    "(stratified_sample_langs) and temperature/UniMax (power-law "
    "flattening) — strata with more internal VARIANCE earn more "
    "budget, which proportional allocation cannot express. "
    "Portability: the per-stratum sd enters as ROUND(N * (sqrt(exact "
    "bigint moment) / N) * 1e6) — one IEEE sqrt and one IEEE "
    "division in a FIXED order, then quantized to bigint micro-units "
    "so the cross-strata total and the final integral-division "
    "quotas are exact integers (the temperature_mix_allocation "
    "discipline; a float share sum would be order-dependent). Scale "
    "shape: one map-side-combinable moment fold per stratum, then "
    "G-row arithmetic.",
)
def neyman_allocation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ln = F.length("text").cast("bigint")
    st = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(ln).cast("bigint").alias("sx"),
        F.sum(ln * ln).cast("bigint").alias("sxx"),
    )
    sd = F.sqrt(
        (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) / F.col("n_docs").cast("double")
    wgt = st.select(
        "lang",
        "n_docs",
        F.round(F.col("n_docs") * sd * F.lit(1e6)).cast("bigint").alias("w_scaled"),
    )
    tw = wgt.agg(F.sum("w_scaled").cast("bigint").alias("wt"))
    return wgt.crossJoin(F.broadcast(tw)).select(
        "lang",
        "n_docs",
        "w_scaled",
        F.expr(f"CAST(({_NEYMAN_BUDGET} * w_scaled) div wt AS BIGINT)").alias(
            "alloc"
        ),
    )


# --------------------------------------------------------------------------
# r12: ANN-built mutual-kNN (VERDICT r11 item 4) — the "swap in the
# LSH tier at 100 TB" docstring claim as a pinned, runnable,
# oracle-hashed path. Staged for r13 (breadth freeze: the r12 window
# is fully consumed by the 25 r11-staged entries + the r7 tail).
# --------------------------------------------------------------------------

from ..operators.dedup import VECTOR_VALIDITY_WHERE_SQL as _VALIDITY_WHERE  # noqa: E402

_MUTUAL_LSH_CTES = f"""
    mcorpus AS (
        -- validity filter mirroring the builder's SHARED gate
        -- (operators/dedup.filter_valid_vectors + its single-source
        -- SQL twin VECTOR_VALIDITY_WHERE_SQL, r13 hardening): only
        -- non-NULL exactly-64-dim vectors with no NULL/NaN/|x|>=32
        -- element and a non-zero QUANTIZED norm participate — BOTH
        -- the auto-plane count and the bucket/score pipeline see the
        -- same filtered population, so a dirty corpus degrades to
        -- exclusion in BOTH engines (never floor(NaN) garbage or a
        -- 0-denominator cosine)
        SELECT vec_id, embedding FROM embeddings
        {_VALIDITY_WHERE}
    ),
    params AS (
        -- auto-scaled plane count: smallest p with 16 * 2^p >= n,
        -- clamped to [4, 24] — integer-for-integer the same
        -- derivation as operators.dedup.auto_n_planes
        SELECT LEAST(24, GREATEST(4, COALESCE(
            (SELECT MIN(p.p) FROM range(0, 25) p(p)
             WHERE 16 * (1::BIGINT << p.p)
                   >= (SELECT COUNT(*) FROM mcorpus)), 24))) AS np
    ),
    planes AS (
        SELECT t.t AS t, p.p AS p, d.d AS d,
               (('0x' || substr(md5(CAST(t.t AS VARCHAR) || '-' ||
                    CAST(p.p AS VARCHAR) || '-' || CAST(d.d AS VARCHAR)),
                    1, 8))::BIGINT % 2000000) - 1000000 AS c
        FROM range(0, 8) t(t), range(0, 24) p(p), range(0, 64) d(d)
        WHERE p.p < (SELECT np FROM params)
    ),
    v AS (
        SELECT vec_id, g.i - 1 AS d,
               CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1048576) AS BIGINT) AS x
        FROM mcorpus, range(1, 65) AS g(i)
    ),
    pdots AS (
        SELECT v.vec_id, pl.t, pl.p, SUM(v.x * pl.c) AS dot
        FROM v JOIN planes pl ON pl.d = v.d
        GROUP BY v.vec_id, pl.t, pl.p
    ),
    buckets AS (
        SELECT vec_id, t,
               SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM pdots GROUP BY vec_id, t
    ),
    lcands AS (
        SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM buckets a JOIN buckets b
          ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id != b.vec_id
    ),
    lnorms AS (SELECT vec_id, SUM(x * x) AS q FROM v GROUP BY vec_id),
    lcdots AS (
        SELECT c.query_id, c.neighbor_id, SUM(va.x * vb.x) AS d
        FROM lcands c
        JOIN v va ON va.vec_id = c.query_id
        JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.d = va.d
        GROUP BY c.query_id, c.neighbor_id
    ),
    ltopk AS (
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT cd.query_id, cd.neighbor_id,
                   CAST(cd.d AS DOUBLE)
                     / (sqrt(CAST(nq.q AS DOUBLE))
                        * sqrt(CAST(nn.q AS DOUBLE))) AS score,
                   ROW_NUMBER() OVER (
                       PARTITION BY cd.query_id
                       ORDER BY CAST(cd.d AS DOUBLE)
                                  / (sqrt(CAST(nq.q AS DOUBLE))
                                     * sqrt(CAST(nn.q AS DOUBLE))) DESC,
                                cd.neighbor_id) AS rank
            FROM lcdots cd
            JOIN lnorms nq ON nq.vec_id = cd.query_id
            JOIN lnorms nn ON nn.vec_id = cd.neighbor_id
        ) WHERE rank <= 4
    )"""


@register(
    "knn_mutual_pairs_lsh",
    f"""
    WITH {_MUTUAL_LSH_CTES}
    SELECT a.query_id AS vec_a, a.neighbor_id AS vec_b, a.score,
           CAST(a.rank AS INT) AS rank_ab, CAST(b.rank AS INT) AS rank_ba
    FROM ltopk a JOIN ltopk b
      ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id
    WHERE a.query_id < a.neighbor_id
    """,
    "Mutual-kNN graph built from the PORTABLE-LSH ANN tier instead of "
    "the quadratic brute-force scorer — the scale-safe composition "
    "the r11 verdict asked to pin: lsh_self_topk_portable's bucket "
    "SELF-join (auto-scaled plane count, id-only shuffle rows, no "
    "broadcast, hash-checkable md5-plane/quantized-int kit) feeds the "
    "edge-source-agnostic mutual_filter — ONE self-join of the n*k "
    "edge list on the reversed key, linear in edges (alpha 0.87, "
    "BENCH_SCALE_R11_MUTUAL_STEP). The LSH approximation structure "
    "itself is oracle-verified: the DuckDB twin reproduces buckets, "
    "candidate cosines, per-query rank windows AND the mutuality join "
    "bit-for-bit; recall vs the brute-force build is pinned in "
    "tests/test_winnow_snm.py on planted near-dup clusters.",
)
def knn_mutual_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_self_topk_portable, mutual_filter

    emb = _t(spark, sf_dir, "embeddings")
    # materialize the n*k edge list: mutual_filter reads it on BOTH
    # join sides, and the candidate join + kNN scoring above it must
    # not execute twice (the mutual_knn_edges lesson)
    edges = lsh_self_topk_portable(emb, k=4).localCheckpoint(eager=True)
    return (
        mutual_filter(edges)
        .where(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            "score",
            F.col("rank").alias("rank_ab"),
            F.col("rank_back").alias("rank_ba"),
        )
    )


# --------------------------------------------------------------------------
# r13: k-core peeling — the graph family's DENSITY tier (staged for
# r14 per the standing breadth freeze; debt 89, budget 0).
# --------------------------------------------------------------------------

_KCORE_K = 90
_KCORE_ROUNDS = 3


def _kcore_step_sql(i: int, k: int) -> str:
    return f"""
    s{i} AS (
        SELECT src AS node FROM d{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    d{i} AS (
        SELECT d.src, d.dst FROM d{i - 1} d
        JOIN s{i} a ON a.node = d.src
        JOIN s{i} b ON b.node = d.dst
    )"""


@register(
    "kcore_copurchase",
    f"""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
        SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
    ),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    d0 AS (SELECT src, dst FROM sym),
    {",".join(_kcore_step_sql(i, _KCORE_K) for i in range(1, _KCORE_ROUNDS + 1))},
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM d{_KCORE_ROUNDS} GROUP BY src
    )
    SELECT n.node AS partkey,
           COALESCE(g.core_degree, 0) AS core_degree,
           s.node IS NOT NULL AS in_core
    FROM nodes n
    LEFT JOIN s{_KCORE_ROUNDS} s ON s.node = n.node
    LEFT JOIN deg g ON g.node = n.node
    """,
    "k-core peeling (Seidman 1983) over the co-purchase graph — the "
    "DENSITY tier completing the graph family: CC (which nodes "
    "touch), LPA (which cluster), PageRank (centrality), BFS "
    "(distance), triangles (cohesion), k-core (which survive inside "
    "a dense backbone). Three synchronous peel rounds unrolled in "
    "both engines (the LPA contract): each round simultaneously "
    "drops every node whose CURRENT degree < 90 and the edges "
    "touching it, so removal cascades — the curation rule that keeps "
    "a near-dup community's core and strips its loose periphery "
    "before electing representatives. k=90 splits every fixture "
    "tier non-vacuously (sf0.01: 1221 of 2000 parts in-core; "
    "sf0.001: the whole graph collapses below the 90-core — the "
    "cascade-to-empty result, itself a density statement). Scale "
    "shape: per round ONE map-side-combinable degree aggregate + two "
    "id-only semi-joins of the shrinking edge relation; Pregel as a "
    "driver loop, state is the edge relation itself, "
    "localCheckpoint every 5 rounds for deep runs. Full oracle.",
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import k_core
    from .catalog_scale import _copurchase_edges

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cores = k_core(_copurchase_edges(li), k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return cores.select(
        F.col("node").alias("partkey"), "core_degree", "in_core"
    )


# --------------------------------------------------------------------------
# r14: suffix-array tier (VERDICT r13 item 3)
# --------------------------------------------------------------------------

# Power-of-two repeat tiers seeded at 8 (1/2/4-grams repeat at
# virtually every position of natural text — no signal, no pruning);
# 512 is the documented cap (fixture max document length is 577 chars
# across all SF tiers, and the oracle's position generator is bounded
# at 2048 with that measurement).
_SUFFIX_TIERS = (8, 16, 32, 64, 128, 256, 512)

_SUFFIX_TIER_CTES = ",\n    ".join(
    f"""dup_{h} AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   COUNT(*) OVER (PARTITION BY substr(t, pos, {h})) AS c
            FROM p WHERE pos + {h} - 1 <= len(t)
        ) WHERE c >= 2
    )"""
    for h in _SUFFIX_TIERS
)
_SUFFIX_UNION = "\n        UNION ALL ".join(
    f"SELECT doc_id, pos, {h} AS h FROM dup_{h}" for h in _SUFFIX_TIERS
)


@register(
    "suffix_repeat_tiers",
    f"""
    WITH d AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
    p AS (
        SELECT doc_id, t, g.i AS pos
        FROM d, range(1, 2049) AS g(i) WHERE g.i <= len(t)
    ),
    {_SUFFIX_TIER_CTES},
    u AS (
        {_SUFFIX_UNION}
    ),
    agg AS (
        SELECT doc_id,
               CAST(MAX(h) AS INT) AS max_dup_tier,
               CAST(COUNT(*) FILTER (WHERE h = 8) AS BIGINT) AS n_pos_dup8,
               CAST(COUNT(*) FILTER (WHERE h = 64) AS BIGINT) AS n_pos_dup64
        FROM u GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.t) AS BIGINT) AS n_chars,
           COALESCE(a.max_dup_tier, 0) AS max_dup_tier,
           COALESCE(a.n_pos_dup8, 0) AS n_pos_dup8,
           COALESCE(a.n_pos_dup64, 0) AS n_pos_dup64
    FROM d LEFT JOIN agg a USING (doc_id)
    """,
    "Character-level suffix-array repeat tiers (VERDICT r13 item 3): "
    "the one dedup modality previously approximated by chunk hashing "
    "(cdc_chunk_dedup, repeated_passages) and token-gram marking "
    "(exact_substring_dedup). For each power-of-two tier h (8..512), "
    "every position whose FULL h-character gram occurs >= 2 times "
    "corpus-wide; per-doc readout: max duplicated tier (the pow2 "
    "floor of the doc's true longest corpus-repeated substring — dup "
    "at h holds iff maximal repeat >= h) plus duplicated-position "
    "counts at the ExactSubstr-typical h=8 and h=64 cutoffs. Spark "
    "side is operators/suffix.py: PREFIX DOUBLING (Manber-Myers; "
    "distributed per Flick & Aluru 2015) with the suffix-array "
    "pruning property — a duplicated 2h-gram needs both h-gram "
    "halves duplicated, so each level keeps only currently-"
    "duplicated positions and the per-level relation shrinks from "
    "corpus-sized to exactly the duplicated mass; the seed level "
    "shuffles the literal 8-char grams ONCE and every later level "
    "keys on constant-width min(struct(doc, pos)) group-id pairs "
    "computed in the same single window exchange as the >= 2 count "
    "(equality is all the readout needs — ordinal ranks would buy "
    "nothing and cost a distinct + rank + join chain per level; at "
    "100 TB the naive ORDER BY substr(text, pos) shuffles terabytes "
    "of overlapping variable-length keys). The "
    "oracle computes the same tiers declaratively by substring "
    "window counts; only EQUALITY of substrings is used (never "
    "ordering), so collation cannot diverge the engines. The "
    "companion suffix_array_ranks (full generalized SA by 0-padded "
    "doubling) is pytest-pinned against brute-force suffix sorting.",
)
def suffix_repeat_tiers_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _suffix_tier_readout(_t(spark, sf_dir, "documents"))


def _suffix_tier_readout(docs: DataFrame) -> DataFrame:
    """The entry's per-doc scalar readout over any (doc_id, text)
    relation — split out so the dirty-corpus cross-engine test can
    drive the exact entry semantics on synthetic documents.

    Built on the pruned prefix-doubling path (suffix_repeat_tiers),
    which MEASURED fastest of three level-step shapes at sf0.1 /
    local[32] even though the fixtures are saturated (98% of tier-8
    positions duplicated, so the shrink-to-duplicated-mass pruning
    only bites from tier 32 up): window-doubling 15.4 s vs 22 s for
    the single-sort SA+LCP twin (suffix_repeat_lcp — range-sorting
    512-char suffix keys pays deep comparisons exactly when the
    corpus shares long prefixes) vs 31.6 s for a repartition +
    hash-agg + co-partitioned-join step (two materialized passes of
    the corpus per level).  The LCP twin stays available for
    consumers that need per-POSITION repeat lengths rather than
    pow2 tiers; both paths are pinned equal in
    tests/test_suffix.py."""
    from ..operators.suffix import suffix_repeat_tiers as srt

    tiers = srt(docs, tiers=_SUFFIX_TIERS)
    per_doc = tiers.groupBy("doc").agg(
        F.max("h").cast("int").alias("max_dup_tier"),
        F.sum(F.when(F.col("h") == 8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos_dup8"),
        F.sum(F.when(F.col("h") == 64, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos_dup64"),
    )
    base = docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint")
        .alias("n_chars"),
    )
    return base.join(
        per_doc.withColumnRenamed("doc", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce("max_dup_tier", F.lit(0)).alias("max_dup_tier"),
        F.coalesce("n_pos_dup8", F.lit(0).cast("bigint")).alias("n_pos_dup8"),
        F.coalesce("n_pos_dup64", F.lit(0).cast("bigint")).alias(
            "n_pos_dup64"
        ),
    )
