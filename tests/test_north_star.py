"""Semantic tests for the non-oracle-checkable north-star operators:
the driver only rows-checks these, so their correctness gates live
here (SURVEY.md §5 item 4: property checks where oracles are weak)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lichess_db_spark.io import load_table
from lichess_db_spark.operators import dedup as dd
from lichess_db_spark.operators.similarity import brute_force_topk, lsh_bucket_topk
from lichess_db_spark.functions.scalar import elo_bin

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


def test_minhash_finds_exact_jaccard_pairs(docs):
    """LSH candidates verified at >=0.5 must equal the exact-jaccard
    pairs at >=0.5 minus LSH misses; at this threshold and banding
    (b=32, r=4 -> s-curve ~0.42) recall should be total on the
    fixture's near-dup pairs."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    mh = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert mh == exact  # verification step guarantees precision; banding recall
    assert len(exact) > 0, "fixture should contain near-dups"


def test_minhash_hot_bucket_cap_bounds_pair_output(spark):
    """Adversarial hot bucket: 600 near-identical boilerplate docs all
    collide in every band, so uncapped LSH would emit ~600²/2 pairs x
    32 bands of shuffle. The default max_bucket_size (256) must drop
    those buckets — bounded output — while leaving the distinct-doc
    near-dup pair intact (its buckets are tiny)."""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit " * 3)
              for i in range(600)]
    near = [
        (1000, "a quick brown fox jumps over the lazy dog again and again today"),
        (1001, "a quick brown fox jumps over the lazy dog again and again tomorrow"),
    ]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")

    from pyspark.sql import Observation

    obs = Observation("minhash_cap")
    capped = dd.minhash_dedup_pairs(docs, threshold=0.5, observation=obs).collect()
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert (1000, 1001) in capped_pairs
    # every boilerplate bucket (600 members) exceeds the cap in all 32
    # bands, so no boilerplate pair survives and output stays tiny
    assert len(capped_pairs) == 1, sorted(capped_pairs)[:10]
    # the recall loss is OBSERVABLE, not silent: the observation rode
    # the job and reports the dropped hot buckets
    metrics = obs.get
    assert metrics["capped_buckets"] >= 32, metrics
    assert metrics["max_bucket_size_seen"] >= 600, metrics

    # disabling the cap floods: the same corpus emits the full d² set
    uncapped = dd.minhash_lsh_candidates(
        dd.minhash_signatures(docs), max_bucket_size=None
    )
    assert uncapped.count() >= 600 * 599 // 2


def test_minhash_jaccard_estimate_close(docs):
    """Signature agreement rate estimates Jaccard: for verified pairs,
    |sig_agree|/128 within 0.25 of exact jaccard."""
    sigs = dd.minhash_signatures(docs)
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "jaccard",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
                    )
                )
                / 128.0
            ).alias("est"),
        )
    )
    bad = est.where(F.abs(F.col("jaccard") - F.col("est")) > 0.25)
    assert bad.count() == 0


def test_simhash_identical_docs_same_signature(spark, docs):
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.limit(5).unionByName(dup)
    sigs = dd.simhash64(both).collect()
    by_id = {r.doc_id: r.simhash for r in sigs}
    for i in [r.doc_id for r in sigs if r.doc_id < 100000]:
        assert by_id[i] == by_id[i + 100000]


def test_lsh_recall_vs_brute_force(emb):
    """Multi-probe LSH top-5 recall vs exact top-5 — random-hyperplane
    buckets on 64-dim data should recover a solid fraction; assert a
    conservative floor so regressions surface."""
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in lsh_bucket_topk(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f}"


def test_brute_force_is_cosine_ordered(emb):
    out = brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        scores = [r.score for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        assert len(rows) == 5


def test_multimodal_decode_plumbing(spark, docs):
    from lichess_db_spark.multimodal.media import decode_images, frame_sample_stub

    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("data"))
    out = decode_images(binary, use_real=False)  # stub arithmetic asserted below
    rows = out.orderBy("doc_id").limit(3).collect()
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_bytes", "width", "height", "format",
    ]
    r = rows[0]
    assert r.n_bytes > 0 and r.width % 64 == 0 and r.format in ("png", "jpeg")
    frames = frame_sample_stub(binary.limit(2), n_frames=4)
    assert frames.count() == 8


def test_embedding_lsh_subset_and_recall(spark, emb):
    """LSH-bucketed near-dup output must be a SUBSET of the exact
    all-pairs result at the same threshold (the exact-cosine verify
    guarantees no false positives), with recall bounded below by the
    8x4 table/plane collision math on the fixture's near-dup pairs."""
    from lichess_db_spark.functions.vectors import cosine_exact

    exact = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine_exact("a.embedding", "b.embedding").alias("cosine"),
        )
        .where(F.col("cosine") >= 0.4)
    )
    exact_pairs = {(r.vec_a, r.vec_b) for r in exact.collect()}
    lsh_rows = dd.embedding_lsh_dedup_pairs(emb, threshold=0.4).collect()
    lsh_pairs = {(r.vec_a, r.vec_b) for r in lsh_rows}
    assert lsh_pairs <= exact_pairs  # exact verify -> no false positives
    if exact_pairs:
        recall = len(lsh_pairs) / len(exact_pairs)
        assert recall >= 0.5, (recall, len(exact_pairs))


@pytest.mark.parametrize(
    "sf_dir,expect_np,recall_floor",
    [
        ("/root/testdata/sf0.01", 5, 0.5),
        ("/root/testdata/sf0.1", 7, 0.25),
    ],
)
def test_embedding_lsh_autoscale_recall_and_volume(
    spark, sf_dir, expect_np, recall_floor
):
    """VERDICT r4 item 5: n_planes derives from the corpus count
    (auto_n_planes) so expected bucket occupancy stays ~constant at
    any scale. Pinned at both driver SFs: the derived width, a recall
    floor at the operator's 0.4 threshold (re-pinned for the wider
    buckets; the fixture's pairs all sit in the flat 0.4-0.6 band of
    the s-curve), subset-correctness, and — the point of the change —
    candidate volume: with ~target_bucket occupancy per bucket, each
    doc meets O(tables * target_bucket) candidates regardless of
    corpus size, so total candidates grow O(n), not O(n^2) (the fixed
    4-plane width at sf0.1 made ~40% of ALL pairs candidates —
    ~400 per doc and quadratic in n)."""
    emb = load_table(spark, sf_dir, "embeddings").cache()
    try:
        n = emb.count()
        assert dd.auto_n_planes(n) == expect_np

        # brute-force twin over the SAME quantized-int cosine the
        # operator verifies with (Arrow einsum kernel — the
        # interpreted cosine_exact takes minutes on sf0.1's 2M pairs)
        qcos = dd.portable_qcos_udf()
        exact = (
            emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
            .join(
                emb.select(
                    F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
                ),
                F.col("vec_a") < F.col("vec_b"),
            )
            .select("vec_a", "vec_b", qcos("ea", "eb").alias("cosine"))
            .where(F.col("cosine") >= 0.4)
        )
        exact_pairs = {(r.vec_a, r.vec_b) for r in exact.collect()}
        lsh_pairs = {
            (r.vec_a, r.vec_b)
            for r in dd.embedding_lsh_dedup_pairs(
                emb, threshold=0.4, n_planes=None
            ).collect()
        }
        assert lsh_pairs <= exact_pairs  # exact verify -> no false positives
        assert exact_pairs, "fixture should contain >=0.4 pairs"
        recall = len(lsh_pairs) / len(exact_pairs)
        assert recall >= recall_floor, (recall, len(exact_pairs))

        # candidate volume stays bounded as the corpus grows
        buckets = emb.select(
            "vec_id",
            F.posexplode(
                dd.portable_bucket_udf(64, 8, dd.auto_n_planes(n))("embedding")
            ).alias("table", "bucket"),
        )
        a = buckets.select(F.col("vec_id").alias("va"), "table", "bucket")
        b = buckets.select(F.col("vec_id").alias("vb"), "table", "bucket")
        n_cand = (
            a.join(b, ["table", "bucket"])
            .where(F.col("va") < F.col("vb"))
            .select("va", "vb")
            .distinct()
            .count()
        )
        # measured ~58 candidates/doc at BOTH SFs (4x corpus growth,
        # flat per-doc volume); 150 leaves slack without admitting the
        # quadratic regime (~400/doc at sf0.1 with fixed 4 planes)
        assert n_cand / n < 150
    finally:
        emb.unpersist()


def test_frame_sample_offsets_in_bounds(spark):
    """Data-dependent frame sampling: per-blob frame count is
    min(max_frames, 1 + bytes//stride) and every byte_offset is a valid
    seek position inside the blob."""
    from lichess_db_spark.multimodal.media import frame_sample

    df = spark.createDataFrame(
        [(1, b""), (2, b"x" * 100), (3, b"y" * 300), (4, b"z" * 5000)],
        "doc_id long, data binary",
    )
    rows = frame_sample(df, max_frames=4, stride_bytes=256).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].byte_offset == 0
    assert len(by_doc[2]) == 1           # 100 bytes < stride -> 1 frame
    assert len(by_doc[3]) == 2           # 1 + 300//256
    assert len(by_doc[4]) == 4           # capped at max_frames
    for r in rows:
        assert 0 <= r.byte_offset <= max(0, r.n_bytes - 1) or r.n_bytes == 0
        assert sorted(x.frame_idx for x in by_doc[r.doc_id]) == list(
            range(len(by_doc[r.doc_id]))
        )


def test_extract_byte_features_exact_counts(spark):
    """The numpy byte-class kernel counts exactly; non-ASCII bytes never
    leak into the ASCII classes (the invariant the SQL oracle relies
    on)."""
    from lichess_db_spark.multimodal.media import extract_byte_features

    df = spark.createDataFrame(
        [
            (1, "abc 123\n".encode()),
            (2, "hélloÿ€9".encode()),  # multi-byte chars + digit
            (3, b""),
        ],
        "doc_id long, data binary",
    )
    rows = {r.doc_id: r for r in extract_byte_features(df).collect()}
    assert rows[1].n_bytes == 8
    assert rows[1].n_printable == 7      # all but the newline
    assert rows[1].n_digits == 3
    assert rows[1].n_newlines == 1
    r2 = rows[2]
    assert r2.n_bytes == len("hélloÿ€9".encode())
    assert r2.n_printable == 5           # h,l,l,o,9 — accents are non-ASCII
    assert r2.n_digits == 1
    assert rows[3].n_bytes == 0 and rows[3].n_printable == 0


def test_decode_real_requires_pil(spark, docs):
    """Forcing the real decoder without PIL fails up front with a clear
    ImportError, not per-task; where PIL exists the gate defaults to it
    (exercised in test_decode_real_pil below)."""
    from lichess_db_spark.multimodal.media import HAVE_REAL_CODECS, decode_images

    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("data"))
    if HAVE_REAL_CODECS:
        pytest.skip("PIL present: use_real=True is valid here")
    with pytest.raises(ImportError, match="pillow"):
        decode_images(binary, use_real=True)


def test_decode_real_pil(spark):
    """Real-decoder path (runs wherever pillow is installed): a genuine
    PNG yields its true dimensions; a corrupt blob yields NULL metadata
    without killing the batch. Same output schema as the stub."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from lichess_db_spark.multimodal.media import decode_images

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "doc_id long, data binary",
    )
    rows = {r.doc_id: r for r in decode_images(df).collect()}
    assert rows[1].width == 17 and rows[1].height == 9 and rows[1].format == "png"
    assert rows[1].n_bytes == len(png)
    assert rows[2].width is None and rows[2].format is None


def test_resize_requires_pil(spark, docs):
    """resize_images cannot stub (output IS pixels): without pillow it
    raises up front with guidance; with pillow it resizes and
    re-encodes (exercised in test_resize_real_pil)."""
    from lichess_db_spark.multimodal.media import HAVE_REAL_CODECS, resize_images

    if HAVE_REAL_CODECS:
        pytest.skip("PIL present: resize is valid here")
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("data"))
    with pytest.raises(ImportError, match="pillow"):
        resize_images(binary, 8, 8)


def test_resize_real_pil(spark):
    """Real resize path (runs wherever pillow is installed): PNG in ->
    8x8 PNG out; corrupt blob -> NULL data without killing the batch."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from lichess_db_spark.multimodal.media import resize_images

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"junk"))],
        "doc_id long, data binary",
    )
    rows = {r.doc_id: r for r in resize_images(df, 8, 8).collect()}
    assert rows[1].width == 8 and rows[1].height == 8
    out = Image.open(io.BytesIO(bytes(rows[1].data)))
    assert out.size == (8, 8)
    assert rows[2].data is None and rows[2].width is None


def test_binary_file_source_pathway(spark, tmp_path):
    from lichess_db_spark.multimodal.media import (
        decode_images,
        read_media_dir,
        spread_by_size,
    )

    for i, size in [(1, 100), (2, 5000), (7, 300)]:
        (tmp_path / f"{i:06d}.jpg").write_bytes(b"\xff\xd8" + b"x" * size)
    (tmp_path / "notes.txt").write_text("not an image")
    media = read_media_dir(spark, str(tmp_path), glob="*.jpg")
    rows = {r.doc_id: r for r in media.collect()}
    assert set(rows) == {1, 2, 7}
    assert rows[2].length == 5002 and rows[2].data[:2] == b"\xff\xd8"
    decoded = decode_images(media)
    assert decoded.count() == 3 and decoded.filter("n_bytes = 5002").count() == 1
    assert spread_by_size(media, target_partition_bytes=4000).count() == 3


def test_elo_bin_labels(spark):
    df = spark.createDataFrame(
        [(None,), (0,), (1,), (200,), (201,), (1639,), (4000,), (4001,)], "elo int"
    )
    got = [r[0] for r in df.select(elo_bin("elo")).collect()]
    assert got == [
        None, "(-inf, 0]", "(0, 200]", "(0, 200]", "(200, 400]",
        "(1600, 1800]", "(3800, 4000]", "(4000, inf]",
    ]


def test_staging_chunker(tmp_path):
    from lichess_db_spark.sources.staging import chunk_pgn_lines

    import os
    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")
    with open(fixture) as fh:
        lines = fh.readlines()
    paths = list(chunk_pgn_lines(lines, str(tmp_path), "t", chunk_bytes=500))
    assert len(paths) > 1  # small budget forces multiple chunks
    # every chunk ends right after a moves line -> no straddled games
    total_games = 0
    for p in paths:
        content = open(p).read().strip().splitlines()
        assert content, p
        last_payload = [l for l in content if l.strip()][-1]
        assert not last_payload.startswith("["), f"chunk {p} split mid-game"
        total_games += sum(
            1 for l in content if l.strip() and not l.startswith("[")
        )
    assert total_games == 6


def test_salted_join_matches_plain_join(spark):
    from lichess_db_spark.operators.skew import salted_join

    ev = load_table(spark, SF_SMALL, "events")
    big = ev.select("event_id", "user_id", "value")
    small = (
        ev.groupBy("user_id").agg(F.count("*").alias("n")).withColumnRenamed("n", "user_n")
    )
    plain = big.join(small, "user_id").select("event_id", "user_id", "value", "user_n")
    salted = salted_join(big, small, "user_id", salt=4).select(
        "event_id", "user_id", "value", "user_n"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_ivf_recall_vs_brute_force(emb):
    from lichess_db_spark.operators.similarity import ivf_topk

    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.2f}"


def test_ivf_index_save_load_roundtrip(spark, emb, tmp_path):
    """Train-once/search-many: a saved+loaded quantizer must reproduce
    the fresh-trained search exactly (centroids round-trip as doubles)."""
    import numpy as np

    from lichess_db_spark.operators.similarity import (
        IVFIndex,
        ivf_topk,
        train_ivf_index,
    )

    idx = train_ivf_index(emb)
    path = str(tmp_path / "ivf_index")
    idx.save(spark, path)
    loaded = IVFIndex.load(spark, path)
    assert np.array_equal(idx.centroids, loaded.centroids)
    q = emb.where(F.col("vec_id") < 10)
    fresh = {tuple(r) for r in ivf_topk(emb, q, k=5, index=idx).collect()}
    reloaded = {tuple(r) for r in ivf_topk(emb, q, k=5, index=loaded).collect()}
    assert fresh == reloaded and len(fresh) == 50


def test_pq_index_save_load_roundtrip(spark, emb, tmp_path):
    """PQ codebooks persist like the IVF quantizer: saved+loaded books
    reproduce the fresh-trained search exactly — retraining would also
    silently invalidate previously encoded corpus codes, so the
    persisted books are the contract."""
    import numpy as np

    from lichess_db_spark.operators.similarity import (
        PQIndex,
        pq_topk,
        train_pq_index,
    )

    idx = train_pq_index(emb)
    path = str(tmp_path / "pq_index")
    idx.save(spark, path)
    loaded = PQIndex.load(spark, path)
    assert len(idx.books) == len(loaded.books)
    assert all(np.array_equal(a, b) for a, b in zip(idx.books, loaded.books))
    q = emb.where(F.col("vec_id") < 10)
    fresh = {tuple(r) for r in pq_topk(emb, q, k=5, index=idx).collect()}
    reloaded = {tuple(r) for r in pq_topk(emb, q, k=5, index=loaded).collect()}
    assert fresh == reloaded and len(fresh) == 50


def test_pq_recall_vs_brute_force(emb):
    from lichess_db_spark.operators.similarity import pq_topk

    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    out = pq_topk(emb, q, k=5)
    rows = out.collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    # pure ADC sits ~0.3 here; the exact rerank over 4x candidates
    # lifts it to ~0.68 — the floor guards the rerank path working
    assert recall >= 0.5, f"PQ recall collapsed: {recall:.2f}"
    # reranked scores are exact cosines: bounded, ranks contiguous
    assert all(-1.0 <= r.score <= 1.0 for r in rows)
    assert {r.rank for r in rows} == {1, 2, 3, 4, 5}


def test_connected_components_transitivity(spark):
    """Chained pairs (a-b, b-c) must collapse to one cluster with the
    min id as canon; disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dd.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_embedding_lsh_hot_bucket_cap(spark):
    """A flood of identical vectors makes every bucket hot; the cap
    drops those buckets (bounded d^2) and the Observation reports how
    many were capped — no silent recall loss."""
    from pyspark.sql import Observation

    vecs = [(i, [0.5] * 64) for i in range(80)] + [
        (1000, [0.9] * 32 + [-0.9] * 32),
        (1001, [0.9] * 32 + [-0.9] * 32),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    obs = Observation("lsh_cap")
    out = dd.embedding_lsh_dedup_pairs(
        df, threshold=0.4, max_bucket_size=10, observation=obs
    )
    pairs = {(r.vec_a, r.vec_b) for r in out.collect()}
    assert (1000, 1001) in pairs          # small-bucket pair survives
    assert not any(a < 1000 and b < 1000 for a, b in pairs)  # flood capped
    assert obs.get["capped_buckets"] > 0
    assert obs.get["max_bucket_size_seen"] == 80


def test_incremental_near_dup_equals_full_batch(spark, tmp_path):
    """Two-batch incremental candidate generation (batch2 joined
    against batch1's persisted postings) must union to exactly the
    full-batch LSH candidate set — the property that lets a firehose
    maintain the dedup index without ever recomputing archive
    signatures."""
    from pyspark.sql import functions as F

    from lichess_db_spark.io import load_table
    from lichess_db_spark.operators.dedup import (
        incremental_near_dup,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    postings = str(tmp_path / "postings")

    p1 = {(r.doc_a, r.doc_b) for r in incremental_near_dup(b1, postings).collect()}
    p2 = {(r.doc_a, r.doc_b) for r in incremental_near_dup(b2, postings).collect()}

    sigs = minhash_signatures(docs)
    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(sigs, max_bucket_size=None).collect()
    }
    assert p1 | p2 == full
    # batches are disjoint halves, so batch-1 pairs never reappear
    assert not (p1 & p2)


def test_incremental_near_dup_postings_cap(spark, tmp_path):
    """ADVICE r4: the (band_idx, band_hash) archive join is a
    many-to-many whose hot keys grow across batches; the cap excludes
    over-cap keys from pairing and the Observation makes the recall
    loss visible instead of silent."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from lichess_db_spark.operators.dedup import incremental_near_dup

    # 40 identical docs (every band key shared by all 40) + 2 distinct
    # near-identical docs that share keys only with each other
    rows = [(i, "the same boilerplate text repeated over and over again " * 4)
            for i in range(40)]
    rows += [(100, "a genuinely unique document about chess engines " * 4),
             (101, "a genuinely unique document about chess engines! " * 4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings = str(tmp_path / "postings")

    obs = Observation("inc_cap")
    pairs = incremental_near_dup(
        docs, postings, max_postings_per_key=10, observation=obs
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # the 40-doc flood (780 pairs) is capped away
    assert not any(a < 100 and b < 100 for a, b in got)
    assert obs.get["capped_keys"] > 0
    assert obs.get["max_postings_seen"] == 40

    # uncapped twin on a fresh archive still finds the flood
    full = incremental_near_dup(
        docs, str(tmp_path / "p2"), max_postings_per_key=None
    )
    assert any(
        r.doc_a < 100 and r.doc_b < 100
        for r in full.collect()
    )


def test_incremental_embedding_gate_excludes_dirty_batch_rows(spark, emb, tmp_path):
    """r13: the shared validity gate covers the INCREMENTAL tier too —
    a dirty arriving batch (NULL vector, ragged, NaN element,
    zero-quantized-norm) degrades to exclusion: candidate pairs and
    the persisted posting archive equal the clean-batch run, and no
    dirty id is ever written to the postings."""
    from lichess_db_spark.operators.dedup import incremental_embedding_near_dup

    dirty_rows = [
        (900001, None),
        (900002, [0.5] * 32),
        (900003, [float("nan")] + [0.5] * 63),
        (900004, [1.0e-9] * 64),
    ]
    dirty = emb.select("vec_id", "embedding").unionAll(
        spark.createDataFrame(dirty_rows, "vec_id long, embedding array<float>")
    )

    clean_pairs = {
        (r.vec_a, r.vec_b)
        for r in incremental_embedding_near_dup(
            emb, str(tmp_path / "clean"), max_bucket_size=None, batch_id=0
        ).collect()
    }
    dirty_pairs = {
        (r.vec_a, r.vec_b)
        for r in incremental_embedding_near_dup(
            dirty, str(tmp_path / "dirty"), max_bucket_size=None, batch_id=0
        ).collect()
    }
    assert dirty_pairs == clean_pairs

    posted = {
        r.vec_id
        for r in spark.read.parquet(str(tmp_path / "dirty")).collect()
    }
    assert not (posted & {i for i, _ in dirty_rows})
    assert posted  # the clean ids did get archived


def test_incremental_embedding_near_dup(spark, emb, tmp_path):
    """Embedding twin of the incremental LSH index: (1) two-batch
    incremental candidates union to the full-batch set under the
    frozen plane config; (2) verified pairs equal the one-shot
    embedding_lsh_dedup_pairs output at the same width; (3) the config
    freezes at creation — a conflicting explicit width is rejected,
    and a second batch reuses the stored planes even though its own
    size would derive differently."""
    from lichess_db_spark.operators.dedup import (
        auto_n_planes,
        embedding_lsh_dedup_pairs,
        embedding_pairs_cosine,
        incremental_embedding_near_dup,
    )

    n = emb.count()
    np_ = auto_n_planes(n)
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    postings = str(tmp_path / "epost")

    p1 = incremental_embedding_near_dup(
        b1, postings, target_corpus=n, max_bucket_size=None, batch_id=0
    )
    c1 = {(r.vec_a, r.vec_b) for r in p1.collect()}
    p2 = incremental_embedding_near_dup(
        b2, postings, max_bucket_size=None, batch_id=1
    )
    c2 = {(r.vec_a, r.vec_b) for r in p2.collect()}
    assert not (c1 & c2)  # disjoint halves never repeat a pair

    # full-batch twin into a fresh archive, same frozen width
    full = incremental_embedding_near_dup(
        emb, str(tmp_path / "efull"), n_planes=np_, max_bucket_size=None
    )
    cf = {(r.vec_a, r.vec_b) for r in full.collect()}
    assert (c1 | c2) == cf

    # verified incremental pairs == the one-shot batch operator
    verified = {
        (r.vec_a, r.vec_b)
        for r in embedding_pairs_cosine(
            p1.unionByName(p2), emb, threshold=0.4
        ).collect()
    }
    batch_out = {
        (r.vec_a, r.vec_b)
        for r in embedding_lsh_dedup_pairs(
            emb, threshold=0.4, n_planes=np_
        ).collect()
    }
    assert verified == batch_out

    # frozen config: wrong explicit width rejected; dims checked
    with pytest.raises(ValueError, match="frozen"):
        incremental_embedding_near_dup(b2, postings, n_planes=np_ + 1)
    with pytest.raises(ValueError, match="n_tables"):
        incremental_embedding_near_dup(b2, postings, n_tables=4)

    # compaction (generalized key_cols) preserves the sibling config
    # and candidate generation keeps working against the merged layout
    from lichess_db_spark.operators.dedup import compact_postings

    stats = compact_postings(
        spark, postings, id_col="vec_id", key_cols=("table", "bucket")
    )
    assert stats["rows"] > 0
    extra = emb.limit(1).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    p3 = incremental_embedding_near_dup(
        extra, postings, max_bucket_size=None, batch_id=2
    )
    assert p3.count() >= 0


def test_passage_chunks_overlap_reference(spark):
    """The driver fixture's docs are shorter than one window, so the
    multi-chunk path (overlap, stride, truncated tail) is pinned here
    against a Python reference on a long synthetic doc."""
    words = [f"w{i}" for i in range(237)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")

    # same expressions as the catalog builder, applied to the probe doc
    from pyspark.sql import functions as F

    pre = df.select("doc_id", F.split("text", " ").alias("__ts"))
    ts = F.col("__ts")
    smax = F.greatest(
        F.ceil((F.size(ts) - F.lit(100)) / F.lit(50.0)).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    chunks = pre.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0).cast("bigint"), smax),
                lambda s: F.slice(ts, (s * 50 + 1).cast("int"), 100),
            )
        ).alias("chunk_idx", "__chunk"),
    ).select(
        "chunk_idx",
        F.concat_ws(" ", "__chunk").alias("chunk"),
        F.size("__chunk").alias("n_tokens"),
    )
    got = {r.chunk_idx: (r.chunk, r.n_tokens) for r in chunks.collect()}

    # Python reference: starts every 50 words until the window would
    # start past ceil((n-100)/50)*50
    import math

    n = len(words)
    smax_ref = max(math.ceil((n - 100) / 50.0), 0)
    want = {}
    for s in range(smax_ref + 1):
        w = words[s * 50 : s * 50 + 100]
        want[s] = (" ".join(w), len(w))
    assert got == want
    assert len(got) == 4  # 237 words -> starts 0,50,100,150
    assert got[3][1] == 87  # truncated tail
    # overlap: second half of chunk 0 == first half of chunk 1
    assert got[0][0].split()[50:] == got[1][0].split()[:50]


def test_interrupted_compaction_swap_self_heals(spark, tmp_path):
    """compact_postings' one crash window (between rename-aside and
    rename-in) leaves the archive path missing with __old intact; the
    next incremental call must restore it instead of treating the
    archive as empty (silent total recall loss)."""
    import os

    from pyspark.sql import functions as F

    from lichess_db_spark.io import load_table
    from lichess_db_spark.operators.dedup import incremental_near_dup

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") < 100)
    postings = str(tmp_path / "swap_postings")
    incremental_near_dup(docs.where(F.col("doc_id") % 2 == 0), postings, batch_id=0)
    # simulate the crash: archive renamed aside, rename-in never happened
    os.rename(postings, postings + "__old")

    b2 = docs.where(F.col("doc_id") % 2 == 1)
    incremental_near_dup(b2, postings, batch_id=1)
    # the archive was restored (not recreated empty): batch 0's
    # postings are back under the original path alongside batch 1's
    assert not os.path.exists(postings + "__old")
    batches = {
        r.batch for r in spark.read.parquet(postings).select("batch").distinct().collect()
    }
    assert batches == {0, 1}, batches


def test_incremental_layout_guard(spark, tmp_path):
    """Mixing flat appends with batch= dirs breaks parquet partition
    discovery on the NEXT read; the guard fails fast at write time
    with a migration message instead."""
    from pyspark.sql import functions as F

    from lichess_db_spark.io import load_table
    from lichess_db_spark.operators.dedup import incremental_near_dup

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") < 60)
    flat = str(tmp_path / "flat_postings")
    incremental_near_dup(docs, flat)  # flat append
    with pytest.raises(ValueError, match="flat"):
        incremental_near_dup(docs, flat, batch_id=1)

    batched = str(tmp_path / "batched_postings")
    incremental_near_dup(docs, batched, batch_id=0)
    with pytest.raises(ValueError, match="batch"):
        incremental_near_dup(docs, batched)


def test_lsh_archive_topk_matches_oneshot(spark, emb, tmp_path):
    """The query half of the incremental index lifecycle: top-k served
    from a two-batch-built posting archive must EQUAL lsh_topk_portable
    over the same corpus at the archive's frozen width — proof that
    incremental maintenance loses nothing vs a one-shot index build."""
    from lichess_db_spark.operators.dedup import (
        incremental_embedding_near_dup,
        load_embedding_index_config,
    )
    from lichess_db_spark.operators.similarity import (
        lsh_archive_topk,
        lsh_topk_portable,
    )

    postings = str(tmp_path / "qpost")
    incremental_embedding_near_dup(
        emb.where(F.col("vec_id") % 2 == 0), postings,
        target_corpus=emb.count(), batch_id=0,
    )
    incremental_embedding_near_dup(
        emb.where(F.col("vec_id") % 2 == 1), postings, batch_id=1
    )
    cfg = load_embedding_index_config(spark, postings)

    queries = emb.where(F.col("vec_id") < 10)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in lsh_archive_topk(queries, postings, emb, k=5).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in lsh_topk_portable(
            emb, queries, k=5, n_planes=cfg["n_planes"]
        ).collect()
    }
    assert got == want
    assert got  # non-vacuous


def test_compact_postings_bounds_archive_growth(spark, tmp_path):
    """VERDICT r4 item 4: N small batches must not leave the posting
    archive unboundedly worse than one big batch. After compaction the
    archive is a single right-sized file set containing exactly the
    live docs' postings, and candidate generation against it still
    works."""
    import glob as _glob

    from pyspark.sql import functions as F

    from lichess_db_spark.io import load_table
    from lichess_db_spark.operators.dedup import (
        compact_postings,
        incremental_near_dup,
        minhash_band_postings,
        minhash_signatures,
    )

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") < 200)
    postings = str(tmp_path / "postings")
    for k in range(8):  # 8 small arrivals
        incremental_near_dup(
            docs.where(F.col("doc_id") % 8 == k), postings, batch_id=k
        )

    n_files_before = len(_glob.glob(postings + "/**/*.parquet", recursive=True))
    rows_before = spark.read.parquet(postings).count()

    # retire half the docs, then compact
    live = docs.where(F.col("doc_id") % 2 == 0).select("doc_id")
    stats = compact_postings(spark, postings, live_ids=live)
    n_files_after = len(_glob.glob(postings + "/**/*.parquet", recursive=True))

    # one-big-batch twin for the bound
    single = str(tmp_path / "single")
    sigs = minhash_signatures(docs.join(live, "doc_id", "left_semi"))
    minhash_band_postings(sigs).write.parquet(single)
    n_files_single = len(_glob.glob(single + "/*.parquet"))
    rows_single = spark.read.parquet(single).count()

    assert n_files_before >= 8  # one file set per batch: the growth axis
    assert stats["rows"] == rows_single  # retired docs' postings reclaimed
    assert rows_before > rows_single
    assert n_files_after <= max(2, 2 * n_files_single)
    assert spark.read.parquet(postings).count() == rows_single

    # the compacted archive still serves incremental candidates
    extra = docs.limit(1).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    pairs = incremental_near_dup(extra, postings, batch_id=99)
    assert pairs.count() >= 0  # runs end-to-end against compacted layout


def test_hll_sketch_union_semantics(spark):
    """The HLL rollup's estimates sit within 2% of exact distincts, and
    the ALL row (union of per-type sketches) equals a direct
    whole-corpus sketch estimate — mergeability: combining group
    sketches must reproduce the one-pass sketch regardless of how rows
    were partitioned into groups."""
    from pyspark.sql import functions as F

    from lichess_db_spark.io import load_table
    from lichess_db_spark.plans import QUERIES

    from .conftest import SF_SMALL

    got = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["hll_sketch_union_estimate"]
        .build(spark, SF_SMALL)
        .collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(2, 0.02 * exact[k]), (k, est, exact[k])

    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).collect()[0]["e"]
    assert got["ALL"] == direct


def test_embedding_contamination_matches_exact(spark):
    """embedding_contamination == the thresholded exact cosine set
    (computed independently via brute_force_topk's full ranking), is
    map-only (no exchange), and is empty at an impossible threshold."""
    from lichess_db_spark.operators.similarity import (
        brute_force_topk,
        embedding_contamination,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    evals = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("eval_vid"), "embedding"
    )
    got = {
        (r["corpus_id"], r["eval_id"])
        for r in embedding_contamination(
            emb, evals, threshold=0.5, eval_id_col="eval_vid"
        ).collect()
    }
    # independent truth: full ranking from brute_force_topk with k
    # large enough to cover everything, filtered at the threshold
    n = emb.count()
    want = {
        (r["neighbor_id"], r["query_id"])
        for r in brute_force_topk(
            emb, emb.where(F.col("vec_id") < 5), k=n
        ).collect()
        if r["score"] >= 0.5
    }
    # brute excludes self-pairs; contamination keeps them (an eval row
    # leaked verbatim IS the worst case) — align by dropping them
    got_noself = {(c, e) for c, e in got if c != e}
    assert got_noself == want
    assert {(c, e) for c, e in got if c == e} == {(i, i) for i in range(5)}
    plan = embedding_contamination(emb, evals, 0.5, eval_id_col="eval_vid")
    p = plan._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        plan._jdf.queryExecution(), "simple"
    )
    assert "Exchange hashpartitioning" not in p, p
    assert (
        embedding_contamination(emb, evals, 1.001, eval_id_col="eval_vid").count()
        == 0
    )


EMBEDDING_CONTAMINATION_SQL = """
WITH q AS (SELECT vec_id AS eval_id, embedding AS qe
           FROM embeddings WHERE vec_id < 5),
prs AS (
    SELECT c.vec_id AS corpus_id, q.eval_id, q.qe, c.embedding AS ce
    FROM embeddings c, q
),
dots AS (
    SELECT corpus_id, eval_id,
        CAST(SUM(CAST(ROUND(CAST(qe[g.i] AS DOUBLE) * CAST(ce[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_i,
        CAST(SUM(CAST(ROUND(CAST(qe[g.i] AS DOUBLE) * CAST(qe[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS qq_i,
        CAST(SUM(CAST(ROUND(CAST(ce[g.i] AS DOUBLE) * CAST(ce[g.i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS cc_i
    FROM prs, generate_series(1, 64) AS g(i)
    GROUP BY corpus_id, eval_id
)
SELECT corpus_id, eval_id, ROUND(exact, 3) AS score FROM (
    SELECT corpus_id, eval_id,
           (dot_i / 1e12) / (sqrt(qq_i / 1e12) * sqrt(cc_i / 1e12)) AS exact
    FROM dots
) WHERE exact >= 0.5
"""


def test_embedding_contamination_oracle_ready(spark):
    """Pre-verifies the staged r8 FULL oracle for embedding
    contamination (the knn scaled-int SQL kit with a threshold WHERE
    instead of a rank cut): Spark and DuckDB agree exactly at
    sf0.001 AND sf0.01, so the r8 registration is a one-block
    @register with no unknowns."""
    from lichess_db_spark.operators.similarity import embedding_contamination

    from .oracle_utils import compare, duck_con

    for sf in (SF_SMALL, "/root/testdata/sf0.01"):
        emb = load_table(spark, sf, "embeddings")
        evals = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("eval_id"), "embedding"
        )
        got = embedding_contamination(
            emb, evals, threshold=0.5, eval_id_col="eval_id"
        )
        compare(got, duck_con(sf), EMBEDDING_CONTAMINATION_SQL,
                f"embedding_contamination@{sf}")


def test_semdedup_invariants(emb):
    """SemDeDup output contract: one row per vector; keep XOR dup_of;
    dup_of is a strictly lower id in the SAME cluster whose exact
    cosine clears eps; high eps keeps everything."""
    out = dd.semdedup(emb, k=8, eps=0.3).cache()
    n = emb.count()
    assert out.count() == n
    bad = out.where(
        (F.col("keep") & F.col("dup_of").isNotNull())
        | (~F.col("keep") & F.col("dup_of").isNull())
    ).count()
    assert bad == 0
    assert out.where(F.col("dup_of") >= F.col("vec_id")).count() == 0
    # dup_of lives in the same cluster as its victim
    cl = out.select("vec_id", "cluster")
    joined = (
        out.where(~F.col("keep"))
        .select("vec_id", "dup_of", F.col("cluster").alias("c_victim"))
        .join(cl.withColumnRenamed("vec_id", "dup_of"), "dup_of")
    )
    assert joined.where(F.col("cluster") != F.col("c_victim")).count() == 0
    # some dups exist at this threshold on the fixture, but not all
    n_dropped = out.where(~F.col("keep")).count()
    assert 0 < n_dropped < n
    # eps -> 1: nothing clears the bar
    assert dd.semdedup(emb, k=8, eps=0.999).where(~F.col("keep")).count() == 0
    out.unpersist()


def test_semdedup_partition_invariant(emb):
    """The (vec_id, keep, dup_of) set is identical under different
    input partitionings (exact scaled-int arithmetic everywhere)."""
    a = {
        (r.vec_id, r.keep, r.dup_of)
        for r in dd.semdedup(emb.repartition(1), k=8, eps=0.3).collect()
    }
    b = {
        (r.vec_id, r.keep, r.dup_of)
        for r in dd.semdedup(emb.repartition(7), k=8, eps=0.3).collect()
    }
    assert a == b


def test_semdedup_eps_validation(emb):
    with pytest.raises(ValueError, match="eps"):
        dd.semdedup(emb, k=8, eps=1.5)


def test_semdedup_centroid_far_semantics(emb):
    """keep_rule="centroid_far" runs the SemDeDup PAPER's rule: in
    every eps-pair the member CLOSER to its cluster centroid dies
    (ties kill the higher id). Every recorded (victim, dup_of) pair
    must satisfy that order on the EXACT scaled-int distances, the
    usual output contract holds, and the rule must actually change
    decisions vs keep-lowest-id on the fixture (not a silent alias)."""
    from lichess_db_spark.operators.clustering import (
        assign_clusters_arrow,
        portable_init_centroids,
    )

    out = dd.semdedup(emb, k=8, eps=0.3, keep_rule="centroid_far").cache()
    n = emb.count()
    assert out.count() == n
    bad = out.where(
        (F.col("keep") & F.col("dup_of").isNotNull())
        | (~F.col("keep") & F.col("dup_of").isNull())
    ).count()
    assert bad == 0
    n_dropped = out.where(~F.col("keep")).count()
    assert 0 < n_dropped < n
    # dup_of lives in the victim's own cluster (pair relation unchanged)
    cl = out.select("vec_id", "cluster")
    joined = (
        out.where(~F.col("keep"))
        .select("vec_id", "dup_of", F.col("cluster").alias("c_victim"))
        .join(cl.withColumnRenamed("vec_id", "dup_of"), "dup_of")
    )
    assert joined.where(F.col("cluster") != F.col("c_victim")).count() == 0
    # the paper's order: victim strictly closer to the centroid than
    # its surviving mate, or tied with the victim being the higher id
    # (exact scaled-int distances — same round-trip the kernel uses)
    cents = portable_init_centroids(emb, 8)
    d2s = assign_clusters_arrow(emb, cents).select("vec_id", "d2s")
    v = (
        out.where(~F.col("keep"))
        .select("vec_id", "dup_of")
        .join(d2s.withColumnRenamed("d2s", "d_victim"), "vec_id")
        .join(
            d2s.select(
                F.col("vec_id").alias("dup_of"), F.col("d2s").alias("d_mate")
            ),
            "dup_of",
        )
    )
    violations = v.where(
        ~(
            (F.col("d_victim") < F.col("d_mate"))
            | (
                (F.col("d_victim") == F.col("d_mate"))
                & (F.col("vec_id") > F.col("dup_of"))
            )
        )
    ).count()
    assert violations == 0
    # not a silent alias of lowest_id: under centroid_far dup_of may
    # be a HIGHER id; the fixture must exercise that branch
    assert out.where(~F.col("keep") & (F.col("dup_of") > F.col("vec_id"))).count() > 0
    out.unpersist()


def test_semdedup_centroid_far_arrow_bit_identical(emb):
    """The Arrow path recovers the scaled-int distance through a
    double round-trip (dist2 * 1e12 re-rounded) — prove the FULL
    centroid_far output matches the expression path bit-for-bit, so
    the round-trip can never flip a kill tiebreak."""
    a = sorted(
        (r.vec_id, r.cluster, r.keep, r.dup_of, r.score)
        for r in dd.semdedup(
            emb, k=8, eps=0.3, use_arrow=False, keep_rule="centroid_far"
        ).collect()
    )
    b = sorted(
        (r.vec_id, r.cluster, r.keep, r.dup_of, r.score)
        for r in dd.semdedup(
            emb, k=8, eps=0.3, use_arrow=True, keep_rule="centroid_far"
        ).collect()
    )
    assert a == b


def test_semdedup_keep_rule_validation(emb):
    with pytest.raises(ValueError, match="keep_rule"):
        dd.semdedup(emb, k=8, eps=0.3, keep_rule="newest")


def test_exact_substring_dedup_micro(spark):
    """Hand-computed ExactSubstr case at k=3: cross-doc shared run
    (two overlapping victim grams merge into ONE removed run), a
    self-repeating doc that keeps exactly one copy, and an untouched
    doc — exact span/token counts."""
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "x1 w2 w3 w4 w5 x2"),
            (3, "y1 y2 y3"),
            (4, "z1 z2 z3 z1 z2 z3 z1 z2 z3"),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_spans_removed, r.n_tokens_removed, r.n_tokens_kept)
        for r in dd.exact_substring_dedup(docs, k=3).collect()
    }
    # d1 holds the keeper occurrences -> untouched; d2's two victim
    # grams [2,4]+[3,5] merge to one run of 4; d4's periodic text
    # keeps exactly the first period (victims [4,6][5,7][6,8][7,9]
    # merge to [4,9])
    assert got == {
        1: (6, 0, 0, 6),
        2: (6, 1, 4, 2),
        3: (3, 0, 0, 3),
        4: (9, 1, 6, 3),
    }


def test_exact_substring_clean_micro(spark):
    """Cleaned-text twin of the micro-case: exact surviving strings —
    d2 keeps only its unique flanks, the periodic d4 keeps exactly
    one period, keeper/untouched docs pass through verbatim."""
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "x1 w2 w3 w4 w5 x2"),
            (3, "y1 y2 y3"),
            (4, "z1 z2 z3 z1 z2 z3 z1 z2 z3"),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.n_tokens_kept, r.clean_text)
        for r in dd.exact_substring_clean(docs, k=3).collect()
    }
    assert got == {
        1: (6, "w1 w2 w3 w4 w5 w6"),
        2: (2, "x1 x2"),
        3: (3, "y1 y2 y3"),
        4: (3, "z1 z2 z3"),
    }


def test_exact_substring_views_agree(docs):
    """The stats view and the cleaned-text view consume one shared
    runs relation — their per-doc n_tokens_kept must be identical,
    and re-splitting the cleaned text must reproduce the count
    (concat_ws round-trip, no whitespace artifacts)."""
    stats = dd.exact_substring_dedup(docs, k=10).select(
        "doc_id", F.col("n_tokens_kept").alias("from_stats")
    )
    clean = dd.exact_substring_clean(docs, k=10)
    joined = clean.join(stats, "doc_id").cache()
    assert joined.where(F.col("n_tokens_kept") != F.col("from_stats")).count() == 0
    resplit = F.when(F.col("clean_text") == "", F.lit(0)).otherwise(
        F.size(F.split("clean_text", " "))
    )
    assert joined.where(resplit != F.col("n_tokens_kept")).count() == 0
    assert joined.count() == docs.count()
    joined.unpersist()


def test_exact_substring_dedup_invariants(docs):
    """Fixture-level contract: one row per doc, exact count algebra,
    every removed run >= k tokens, and the fixture's near-dup pairs
    actually produce removals (non-degenerate)."""
    k = 10
    out = dd.exact_substring_dedup(docs, k=k).cache()
    n = docs.count()
    assert out.count() == n
    assert out.where(
        F.col("n_tokens_kept") != F.col("n_tokens") - F.col("n_tokens_removed")
    ).count() == 0
    assert out.where(
        (F.col("n_tokens_removed") < 0)
        | (F.col("n_tokens_removed") > F.col("n_tokens"))
    ).count() == 0
    # each maximal run is a union of length-k intervals -> >= k tokens
    assert out.where(
        F.col("n_tokens_removed") < F.lit(k) * F.col("n_spans_removed")
    ).count() == 0
    touched = out.where(F.col("n_spans_removed") > 0).count()
    assert 0 < touched < n
    out.unpersist()
    with pytest.raises(ValueError, match="k must be"):
        dd.exact_substring_dedup(docs, k=1)


def test_bloom_membership_no_false_negatives(docs):
    """A Bloom filter may lie positive, NEVER negative: every probe
    row whose digest is in the reference must hit; the deterministic
    FP set stays small at m=16384/k=4 for the fixture's ref size."""
    ref = docs.where(F.col("doc_id") % 7 == 0)
    out = dd.bloom_membership(ref, docs, m=16384, k=4).cache()
    assert out.where(F.col("exact_dup") & ~F.col("bloom_hit")).count() == 0
    n_probe = out.count()
    n_fp = out.where(F.col("bloom_hit") & ~F.col("exact_dup")).count()
    assert n_fp / n_probe < 0.05, f"FPR {n_fp}/{n_probe} exceeds 5%"
    # every ref doc probes itself -> exact_dup True for all ref rows
    assert (
        out.join(ref.select("doc_id"), "doc_id").where(~F.col("exact_dup")).count()
        == 0
    )
    out.unpersist()


def test_bloom_membership_validation_and_exactless(docs):
    ref = docs.limit(5)
    with pytest.raises(ValueError, match="m and k"):
        dd.bloom_membership(ref, docs, m=0)
    cols = dd.bloom_membership(ref, docs, with_exact=False).columns
    assert cols == ["doc_id", "bloom_hit"]


def test_semdedup_arrow_bit_identical(emb):
    """The Arrow fast path (signed-round dot kernel + pinned argmin
    assignment kernel) must reproduce the expression path's FULL
    output bit-for-bit — every cluster, keep flag, dup_of and rounded
    score over every within-cluster pair."""
    a = sorted(
        (r.vec_id, r.cluster, r.keep, r.dup_of, r.score)
        for r in dd.semdedup(emb, k=8, eps=0.3, use_arrow=False).collect()
    )
    b = sorted(
        (r.vec_id, r.cluster, r.keep, r.dup_of, r.score)
        for r in dd.semdedup(emb, k=8, eps=0.3, use_arrow=True).collect()
    )
    assert a == b


def test_embedding_contamination_arrow_bit_identical(emb):
    """use_arrow must reproduce the expression path's pair set and
    rounded scores bit-for-bit (signed-round kernel contract)."""
    from lichess_db_spark.operators.similarity import embedding_contamination

    evals = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("eval_id"), "embedding"
    )
    a = sorted(
        (r.corpus_id, r.eval_id, r.score)
        for r in embedding_contamination(
            emb, evals, threshold=0.5, eval_id_col="eval_id"
        ).collect()
    )
    b = sorted(
        (r.corpus_id, r.eval_id, r.score)
        for r in embedding_contamination(
            emb, evals, threshold=0.5, eval_id_col="eval_id", use_arrow=True
        ).collect()
    )
    assert a == b and len(a) > 0


def test_dot_exact_arrow_null_handling(spark):
    """ADVICE r8: use_arrow must not change NULL handling from
    filter-out to failure. NULL vectors, ragged pairs and inner-NULL
    elements all yield NULL from BOTH paths; valid rows stay
    bit-identical."""
    from lichess_db_spark.functions.vectors import dot_exact, dot_exact_arrow

    rows = [
        (0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),   # valid
        (1, None, [1.0, 1.0, 1.0]),               # NULL left
        (2, [1.0, 1.0, 1.0], None),               # NULL right
        (3, [1.0, 2.0], [1.0, 2.0, 3.0]),         # ragged pair
        (4, [1.0, None, 3.0], [1.0, 2.0, 3.0]),   # inner NULL element
        (5, [0.5, -0.25, 8.0], [-2.0, 4.0, 0.125]),  # signed valid
    ]
    df = spark.createDataFrame(rows, "id int, a array<float>, b array<float>")
    expr = {r.id: r.d for r in df.select("id", dot_exact("a", "b").alias("d")).collect()}
    arrow = {r.id: r.d for r in df.select("id", dot_exact_arrow("a", "b").alias("d")).collect()}
    assert expr == arrow
    assert expr[0] is not None and expr[5] is not None
    for i in (1, 2, 3, 4):
        assert expr[i] is None and arrow[i] is None


def test_ahash_locality_and_hamming_pairs(spark):
    """The pHash dedup kit: identical blobs hash identically (hamming
    0), a few flipped bytes move only a few bits (locality — the
    property an md5 stand-in would NOT have), the band-LSH pairing
    catches every pair within the pigeonhole bound, and distant blobs
    don't pair."""
    from lichess_db_spark.multimodal.media import ahash_images
    from lichess_db_spark.operators.dedup import (
        bitstring_hamming,
        bitstring_near_dup_pairs,
    )

    # 64 blocks x 10 bytes, every byte 100: every block mean == the
    # global mean -> all-zero hash, and each block bit sits exactly on
    # the decision edge, so one raised byte flips exactly that bit
    base = bytes([100]) * 640
    tweaked = bytearray(base)
    for blk in (2, 20, 40):  # one flip in each of 3 different bands
        tweaked[blk * 10] = 200
    # structurally different: alternating loud/quiet blocks -> hash
    # 1010... (hamming 32 from base), must NOT pair
    far = bytes(([150] * 10 + [50] * 10) * 32)
    rows = [
        (1, base),
        (2, bytes(base)),     # exact dup of 1
        (3, bytes(tweaked)),  # near dup of 1 (3 bits)
        (4, far),
    ]
    df = spark.createDataFrame(rows, "doc_id long, data binary")
    sigs = ahash_images(df, use_real=False)
    by_id = {r.doc_id: r.phash for r in sigs.collect()}
    assert by_id[1] == by_id[2] and len(by_id[1]) == 64
    ham13 = sum(a != b for a, b in zip(by_id[1], by_id[3]))
    assert 0 < ham13 <= 3  # locality: 3 byte flips -> few bits
    pairs = {
        (r.id_lo, r.id_hi): r.hamming
        for r in bitstring_near_dup_pairs(
            sigs, max_hamming=3, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == ham13 and pairs[(2, 3)] == ham13
    assert not any(4 in p for p in pairs)
    # the expression Hamming agrees with Python on a direct pair
    a = sigs.alias("a").where(F.col("doc_id") == 1)
    b = sigs.alias("b").where(F.col("doc_id") == 4)
    d = (
        a.crossJoin(b.select(F.col("phash").alias("ph2")))
        .select(bitstring_hamming(F.col("phash"), F.col("ph2"), 64).alias("h"))
        .first()
        .h
    )
    assert d == sum(x != y for x, y in zip(by_id[1], by_id[4]))


def test_bitstring_near_dup_validation(spark):
    from lichess_db_spark.operators.dedup import bitstring_near_dup_pairs

    sigs = spark.createDataFrame([(1, "01" * 32)], "doc_id long, phash string")
    with pytest.raises(ValueError, match="divisible"):
        bitstring_near_dup_pairs(sigs, n_bits=64, bands=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        bitstring_near_dup_pairs(sigs, max_hamming=4, bands=4)


def test_ahash_real_pil_gate(spark):
    """Without PIL, use_real=True fails up front; with PIL, the real
    path computes the classic gray-8x8 aHash through the same bit
    rule (shape + determinism asserted)."""
    from lichess_db_spark.multimodal.media import HAVE_REAL_CODECS, ahash_images

    df = spark.createDataFrame([(1, b"\x89PNG-not-really")], "doc_id long, data binary")
    if not HAVE_REAL_CODECS:
        with pytest.raises(ImportError, match="requires PIL"):
            ahash_images(df, use_real=True)
        return
    out = ahash_images(df, use_real=True).collect()  # corrupt blob -> no row
    assert out == []


def test_connected_components_vs_union_find(spark):
    """Min-label propagation must match a Python union-find on a
    seeded random graph (chains, cliques), with cluster_id = min
    member id; strict mode converges fine on it."""
    import random

    rng = random.Random(23)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    want = {}
    for n in touched:
        r = find(n)
        want[n] = min(m for m in touched if find(m) == r)

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(df, strict=True).collect()
    }
    assert got == want


def test_connected_components_strict_nonconvergence_raises(spark):
    """strict=True fails loud when max_iter rounds don't reach the
    fixpoint (a 5-chain needs >1 round); the lenient default returns
    the partial labels unchanged — existing-caller behavior."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(df, max_iter=1, strict=True)
    lenient = dd.connected_components(df, max_iter=1)
    assert lenient.count() == 5  # partial labels, no raise


def test_connected_components_degenerate_graphs_converge(spark):
    """r14: the fixpoint test is the exact decimal label-sum (min-label
    propagation is monotone non-increasing over a fixed node set, so
    the sum is stationary iff every label is). The degenerate corners
    that rewrite touches: an empty edge set converges immediately
    (None == None sum) and a self-loop-only graph — the one non-empty
    graph already AT its fixpoint — still converges under strict."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dd.connected_components(empty, strict=True).count() == 0

    loops = spark.createDataFrame([(7, 7), (9, 9)], "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(loops, strict=True).collect()
    }
    assert got == {7: 7, 9: 9}


def test_connected_components_non_integral_ids(spark):
    """ADVICE r14 guard: the decimal label-sum probe is only
    equivalent for integral id types — string ids would crash the
    ANSI decimal cast (non-numeric) or can false-converge (numeric
    strings propagate in LEXICOGRAPHIC order, '10' < '9', so per-node
    deltas may cancel in a numeric sum). Non-integral ids must take
    the join-based changed-count fallback and still label correctly.
    The '10' <-> '9' chain is the adversarial case: min-label under
    string ordering picks '10' (not '9'), and the correct fixpoint
    needs a second propagation round."""
    pairs = spark.createDataFrame(
        [("9", "10"), ("10", "7x"), ("b", "a")],
        "doc_a string, doc_b string",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(pairs, strict=True).collect()
    }
    assert got == {"9": "10", "10": "10", "7x": "10", "a": "a", "b": "a"}


def test_znorm_stream_hot_user(spark, monkeypatch):
    """VERDICT r14 item 8: the znorm Python path must bound its
    buffered state by the hottest USER, not the whole shuffle
    partition. Drive the streaming kernel directly with a deliberately
    hot user split across several small Arrow-batch-shaped frames and
    check (a) exact z-scores against the closed form, (b) the
    carry-over buffer never exceeds the hot user's rows + one batch."""
    import pandas as pd

    from lichess_db_spark.plans.catalog_north import _znorm_group, _znorm_stream

    # one partition's sorted stream: user 1 has 2 rows, user 2 is HOT
    # (1000 rows spanning many batches), user 3 has 1 row (dropped:
    # n < 2), user 4 has 3 rows, users 5..154 have 2 rows each (so the
    # whole 1306-row partition exceeds the bound below)
    rows = (
        [(10, 1, 1.00), (11, 1, 3.00)]
        + [(100 + i, 2, float(i % 7)) for i in range(1000)]
        + [(2000, 3, 5.00)]
        + [(3000, 4, 1.00), (3001, 4, 2.00), (3002, 4, 6.00)]
        + [(4000 + 2 * u + j, u, float(u % 5 + 2 * j)) for u in range(5, 155) for j in (0, 1)]
    )
    whole = pd.DataFrame(rows, columns=["event_id", "user_id", "value"])
    batches = [whole.iloc[i : i + 64] for i in range(0, len(whole), 64)]
    # record the length of every frame the kernel itself concatenates
    # (carry-over + next batch) while it runs
    real_concat = pd.concat
    seen = []

    def recording_concat(*args, **kwargs):
        out = real_concat(*args, **kwargs)
        seen.append(len(out))
        return out

    monkeypatch.setattr(pd, "concat", recording_concat)
    parts = list(_znorm_stream(iter(batches)))
    monkeypatch.setattr(pd, "concat", real_concat)
    got = pd.concat(parts, ignore_index=True)
    # reference: per-user closed form over the un-batched frame
    ref = pd.concat(
        [
            _znorm_group(g)
            for _, g in whole.groupby("user_id", sort=False)
            if len(g) >= 2
        ],
        ignore_index=True,
    )
    assert got.sort_values("event_id").reset_index(drop=True).equals(
        ref.sort_values("event_id").reset_index(drop=True)
    )
    # the bound: the hot user spans many batches, so the kernel must
    # carry it over; its buffer never exceeds the hot user's rows + one
    # batch (1000 + 64), never the whole partition's concat
    assert seen
    assert max(seen) <= 1000 + 64


def test_bitstring_pairs_hot_bucket_cap(spark):
    """A flood of identical signatures makes every one of its band
    buckets hot; the cap drops those buckets (bounding the D^2 pair
    explosion) while the Observation reports what was capped, and an
    unrelated near pair in cold buckets is still found."""
    from pyspark.sql import Observation

    from lichess_db_spark.operators.dedup import bitstring_near_dup_pairs

    flood_sig = "01" * 32
    near_a = "1" * 64
    near_b = "1" * 63 + "0"
    rows = [(i, flood_sig) for i in range(80)] + [(100, near_a), (101, near_b)]
    sigs = spark.createDataFrame(rows, "doc_id long, phash string")
    obs = Observation("phash_cap")
    pairs = bitstring_near_dup_pairs(
        sigs, max_bucket_size=16, observation=obs
    ).collect()
    got = {(r.id_lo, r.id_hi): r.hamming for r in pairs}
    assert got == {(100, 101): 1}  # flood pairs all capped away
    m = obs.get
    assert m["capped_buckets"] == 4  # all 4 of the flood's band buckets
    assert m["max_bucket_size_seen"] == 80
    # uncapped: the flood emits all 80*79/2 pairs
    full = bitstring_near_dup_pairs(sigs, max_bucket_size=None).count()
    assert full == 80 * 79 // 2 + 1


def test_precap_filters_before_collect_in_plan(spark):
    """VERDICT r9 (the one 'weak' finding): the hot-bucket cap must be
    enforced BEFORE the per-bucket collect — a broadcast LEFT ANTI join
    against the over-cap keys sits BELOW the collect_list/collect_set
    aggregate in the physical plan, so a viral key's D rows are dropped
    map-side and never materialize a D-element aggregation buffer on
    one reducer. Pinned for BOTH batch pairing tiers (Hamming bit-slice
    and MinHash bands); cap=None keeps the old single-exchange plan
    (no anti-join)."""
    from lichess_db_spark.operators.dedup import (
        bitstring_near_dup_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    sigs = spark.createDataFrame(
        [(i, "01" * 32) for i in range(6)], "doc_id long, phash string"
    )

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "simple"
        )

    capped = plan_of(bitstring_near_dup_pairs(sigs, max_bucket_size=8))
    assert "LeftAnti" in capped and "collect_list" in capped
    # plan trees print top-down: the collect aggregate (consumer) must
    # appear ABOVE the anti-join (producer) — cap enforced pre-collect
    assert capped.index("collect_list") < capped.index("LeftAnti")
    # the anti-join's build side is the broadcast over-cap key relation
    assert "BroadcastExchange" in capped
    uncapped = plan_of(bitstring_near_dup_pairs(sigs, max_bucket_size=None))
    assert "LeftAnti" not in uncapped

    mdocs = spark.createDataFrame(
        [(i, "one two three four five six seven") for i in range(4)],
        "doc_id long, text string",
    )
    msigs = minhash_signatures(mdocs)
    # MinHash default = window mode (single scan, single exchange, no
    # join): the per-key COUNT window + <=cap filter sit BELOW the
    # collect_set aggregate, and the expensive signature lineage is
    # not duplicated into a second count branch
    mplan = plan_of(minhash_lsh_candidates(msigs, max_bucket_size=8))
    assert "Window" in mplan and "collect_set" in mplan
    assert mplan.index("collect_set") < mplan.index("Window")
    assert "LeftAnti" not in mplan
    uncapped_m = plan_of(minhash_lsh_candidates(msigs, max_bucket_size=None))
    assert "Window" not in uncapped_m and "LeftAnti" not in uncapped_m
    # broadcast mode on request (persisted-signature callers)
    bplan = plan_of(
        minhash_lsh_candidates(msigs, max_bucket_size=8, precap_mode="broadcast")
    )
    assert "LeftAnti" in bplan
    assert bplan.index("collect_set") < bplan.index("LeftAnti")


def test_precap_modes_identical_pairs(spark):
    """The three pre-cap plan shapes (broadcast / repartition / window)
    differ only in WHERE the over-cap keys are dropped — the pair sets
    they produce must be identical, on a corpus that exercises the cap
    (one hot signature over the cap, cold near-pairs under it)."""
    from lichess_db_spark.operators.dedup import bitstring_near_dup_pairs

    rows = [(i, "01" * 32) for i in range(30)] + [
        (100, "1" * 64),
        (101, "1" * 63 + "0"),
        (102, "0" * 64),
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, phash string")
    got = {}
    for mode in ("broadcast", "repartition", "window"):
        got[mode] = {
            (r.id_lo, r.id_hi, r.hamming)
            for r in bitstring_near_dup_pairs(
                sigs, max_bucket_size=16, precap_mode=mode
            ).collect()
        }
    assert got["broadcast"] == got["repartition"] == got["window"]
    assert got["broadcast"] == {(100, 101, 1)}  # hot flood capped away

    import pytest as _pytest

    with _pytest.raises(ValueError, match="precap mode"):
        bitstring_near_dup_pairs(sigs, precap_mode="magic")


def test_incremental_phash_equals_one_shot(spark, tmp_path):
    """Union of per-batch incremental pHash pairs over an arbitrary
    arrival split must equal the one-shot bitstring_near_dup_pairs of
    the full corpus (cap disabled), and replaying a batch_id-scoped
    batch must not duplicate postings, signatures, or pairs."""
    from lichess_db_spark.io import load_table
    from lichess_db_spark.multimodal.media import ahash_images
    from lichess_db_spark.operators.dedup import (
        bitstring_near_dup_pairs,
        incremental_phash_near_dup,
    )

    from .conftest import SF_MED

    # the duplicated pHash corpus (documents + re-uploads) — the raw
    # fixture has no byte-identical blobs and the equivalence would be
    # vacuous over it
    from lichess_db_spark.plans.catalog_staged import _phash_corpus

    docs = _phash_corpus(spark, SF_MED)
    sigs = ahash_images(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("data")),
        use_real=False,
    ).persist()
    want = {
        (r.id_lo, r.id_hi, r.hamming)
        for r in bitstring_near_dup_pairs(sigs, max_bucket_size=None).collect()
    }
    post = str(tmp_path / "postings")
    sigp = str(tmp_path / "sigs")
    got = set()
    for b in range(3):
        batch = sigs.where(F.col("doc_id") % 3 == b)
        pairs = incremental_phash_near_dup(
            batch, post, sigp, max_postings_per_key=None, batch_id=b
        )
        got |= {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}
    assert got == want and len(want) > 0

    # replay batch 1: same pairs back, archives not duplicated
    replay = incremental_phash_near_dup(
        sigs.where(F.col("doc_id") % 3 == 1),
        post,
        sigp,
        max_postings_per_key=None,
        batch_id=1,
    )
    replay_pairs = {(r.doc_a, r.doc_b, r.hamming) for r in replay.collect()}
    assert replay_pairs <= want
    n_docs = sigs.count()
    assert spark.read.parquet(sigp).count() == n_docs
    assert spark.read.parquet(post).select("doc_id").distinct().count() == n_docs
    sigs.unpersist()


def test_incremental_phash_rejects_archiveless_call(spark, tmp_path):
    """ADVICE r9: write_archives=False without return_archives=True
    used to validate but silently lost the batch's postings AND leaked
    the posting core's persisted relation — now it raises up front."""
    from lichess_db_spark.operators.dedup import incremental_phash_near_dup

    sigs = spark.createDataFrame([(1, "01" * 32)], "doc_id long, phash string")
    with pytest.raises(ValueError, match="return_archives"):
        incremental_phash_near_dup(
            sigs,
            str(tmp_path / "post"),
            str(tmp_path / "sigs"),
            write_archives=False,
            return_archives=False,
        )


def test_bloom_probe_cache_eviction_keeps_old_plans_alive(spark):
    """ADVICE r9 (medium): evicting a bitmap from the probe cache must
    only unpersist its broadcast — a previously returned UDF (or a
    lazy plan built from it) still closes over that broadcast, and a
    destroy() would make executing it fail at runtime once a 5th
    distinct bitmap rotates it out. Pin: build a plan from bitmap #1,
    evict it by creating MAX+1 more bitmaps, then execute the old
    plan."""
    from lichess_db_spark.operators.dedup import (
        _BLOOM_PROBE_CACHE,
        _BLOOM_PROBE_CACHE_MAX,
        bloom_hit_udf,
    )

    m, k = 64, 2
    def bitmap(tag):
        bits = bytearray(b"0" * m)
        bits[tag % m] = ord("1")
        return bytes(bits)

    df = spark.createDataFrame([(f"d{i}",) for i in range(6)], "digest string")
    hit0 = bloom_hit_udf(spark, bitmap(1), m, k)
    old_plan = df.select(F.coalesce(hit0(F.col("digest")), F.lit(False)).alias("h"))
    key0 = next(iter(_BLOOM_PROBE_CACHE))
    for i in range(2, _BLOOM_PROBE_CACHE_MAX + 3):
        bloom_hit_udf(spark, bitmap(i), m, k)
    assert key0 not in _BLOOM_PROBE_CACHE  # bitmap #1 was evicted
    # the old plan must still execute (unpersist re-ships on demand;
    # destroy would raise here)
    assert old_plan.count() == 6


def test_tracin_init_influence_signs(spark, tmp_path):
    """TracIn-at-init semantics on a synthetic corpus: a training doc
    identical to a test doc helps (positive influence) when labels
    agree and hurts (negative) when they conflict; an orthogonal doc's
    influence is only the bias-gradient term."""
    import os

    from lichess_db_spark.plans.registry import QUERIES

    rows = [
        (0, [1.0, 0.0] + [0.0] * 62, 0),    # test doc, y=1 (label==0)
        (10, [1.0, 0.0] + [0.0] * 62, 0),   # train: identical, same label
        (11, [1.0, 0.0] + [0.0] * 62, 5),   # train: identical, other label
        (12, [0.0, 1.0] + [0.0] * 62, 0),   # train: orthogonal, same label
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    got = {
        r.vec_id: (r.influence_scaled, r.influence)
        for r in QUERIES["tracin_init_influence"].build(spark, d).collect()
    }
    # identical + same label: (dot=1e12) + bias 1e12 = 2e12, sign +
    assert got[10][0] == 2 * 10**12 and got[10][1] == 0.5
    # identical + conflicting label: the exact negation
    assert got[11][0] == -2 * 10**12 and got[11][1] == -0.5
    # orthogonal + same label: bias term only
    assert got[12][0] == 10**12 and got[12][1] == 0.25


def test_mmr_diversifies_away_duplicates(spark):
    """The property MMR exists for: when the top of the relevance
    ranking contains near-duplicates, plain top-k returns both copies
    while MMR's diversity penalty pushes the duplicate out in favor of
    a distinct document. Synthetic corpus: query q, two identical
    highly-relevant docs, one distinct moderately-relevant doc."""
    from lichess_db_spark.operators.similarity import brute_force_topk, mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # query
        (1, [0.8, 0.6, 0.0, 0.0]),     # relevant
        (2, [0.8, 0.6, 0.0, 0.0]),     # exact duplicate of 1
        (3, [0.7, 0.0, 0.714, 0.0]),   # distinct, nearly as relevant
        (4, [0.0, 1.0, 0.0, 0.0]),     # irrelevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") == 0)
    plain = [
        r.neighbor_id
        for r in brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    ]
    assert plain == [1, 2]  # top-2 by relevance: both copies
    # lam 0.5: pick2 scores doc2 at 0.5*0.8 - 0.5*1.0 = -0.1 (its
    # duplicate penalty is total) vs doc3 at 0.5*0.7 - 0.5*0.56 = 0.07
    mmr = [
        r.neighbor_id
        for r in mmr_topk(emb, q, k=2, pool=4, lam=0.5).orderBy("rank").collect()
    ]
    assert mmr == [1, 3]  # the duplicate is penalized out

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pool"):
        mmr_topk(emb, q, k=5, pool=3)
    with _pytest.raises(ValueError, match="lam"):
        mmr_topk(emb, q, k=1, pool=2, lam=0.0)
    with _pytest.raises(ValueError, match="checkpoint_every"):
        mmr_topk(emb, q, k=1, pool=2, checkpoint_every=0)


def test_mmr_checkpoint_cadence_beyond_toy_k(spark):
    """VERDICT r10 item 7: pick i's plan embeds pick i-1 twice (the
    remaining anti-join + the penalty join), so an uncut unroll grows
    ~2^k — fine at the catalog's k=3, exponential at context-window
    k~50. The checkpoint_every cadence bounds the tree; this drives
    k=10 (2^10 subtrees if uncut) through two different cadences and
    pins (a) identical output — the cut is plan-shape-only, (b) the
    greedy invariants: contiguous ranks, no repeated neighbor per
    query, rank 1 = the plain relevance argmax."""
    import math

    from lichess_db_spark.operators.similarity import mmr_topk

    # deterministic 14-doc corpus on the unit circle in 4-d + 2 queries
    rows = []
    for i in range(14):
        a = (i * 0.41) % (2 * math.pi)
        rows.append((i + 10, [math.cos(a), math.sin(a), 0.1 * (i % 3), 0.0]))
    rows += [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 2)

    def run(cadence):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.mmr_score)
            for r in mmr_topk(
                emb, q, k=10, pool=14, lam=0.7, checkpoint_every=cadence
            ).collect()
        )

    a, b = run(3), run(4)
    assert a == b
    per_q = {}
    for qid, rank, nid, _ in a:
        per_q.setdefault(qid, []).append((rank, nid))
    assert set(per_q) == {0, 1}
    for qid, picks in per_q.items():
        ranks = sorted(r for r, _ in picks)
        assert ranks == list(range(1, 11))
        nids = [n for _, n in picks]
        assert len(set(nids)) == len(nids)


def test_dedup_split_leakfree_and_keep_best_properties(spark):
    """The two cluster-composed curation entries: (1) no near-dup
    cluster ever straddles the train/eval boundary — the leakage
    property doc-level splitting cannot give; (2) keep_best keeps
    exactly one member per cluster and it is a longest one."""
    from lichess_db_spark.plans.registry import QUERIES

    from .conftest import SF_MED

    split = QUERIES["dedup_split_leakfree"].build(spark, SF_MED)
    per_cluster = split.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("ns"), F.count("*").alias("n")
    )
    assert per_cluster.where(F.col("ns") > 1).count() == 0  # no straddle
    assert per_cluster.where(F.col("n") > 1).count() > 0  # non-vacuous

    best = QUERIES["dedup_keep_best"].build(spark, SF_MED)
    agg = best.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.max("n_chars").alias("mx"),
        F.max(F.when(F.col("keep"), F.col("n_chars"))).alias("kept_chars"),
    )
    assert agg.where(F.col("n_keep") != 1).count() == 0  # exactly one keeper
    assert agg.where(F.col("kept_chars") != F.col("mx")).count() == 0  # longest


def test_wide_signature_128bit_twin_and_pairing(spark):
    """128-bit WIDE perceptual signatures (VERDICT r12 item 2 — the
    band-key saturation fix): the single-pass ahash_dhash method
    equals aHash bits ++ dHash bits computed by the narrow methods;
    audio wide=True keeps the narrow gradient signature as the exact
    PREFIX and appends the window aHash; re-uploads still collide at
    hamming 0 through the 4 x 32-bit banded pairing; locality holds
    (a few flipped bytes move a few bits, never the wholesale flip an
    md5 stand-in would show)."""
    from lichess_db_spark.multimodal.media import (
        ahash_images,
        audio_fingerprints,
    )
    from lichess_db_spark.operators.dedup import bitstring_near_dup_pairs

    base = bytes((i * 37 + (i // 11) * 101) % 256 for i in range(2300))
    tweaked = bytearray(base)
    tweaked[0:36] = b"\xff" * 36  # saturate ~one block: flips 3 bits
    rows = [(1, base), (2, bytes(base)), (3, bytes(tweaked))]
    df = spark.createDataFrame(rows, "doc_id long, data binary")

    wide = {r.doc_id: r.phash for r in
            ahash_images(df, use_real=False, method="ahash_dhash").collect()}
    nar_a = {r.doc_id: r.phash for r in
             ahash_images(df, use_real=False, method="ahash").collect()}
    nar_d = {r.doc_id: r.phash for r in
             ahash_images(df, use_real=False, method="dhash").collect()}
    for i in (1, 2, 3):
        assert len(wide[i]) == 128
        assert wide[i] == nar_a[i] + nar_d[i]
    assert wide[1] == wide[2]
    # locality: one flipped byte moves only a few of the 128 bits
    diff = sum(a != b for a, b in zip(wide[1], wide[3]))
    assert 0 < diff <= 6

    # audio wide: narrow signature is the exact prefix, aHash appended
    nar = {(r.doc_id, r.window_idx): r.afp for r in
           audio_fingerprints(df, window_bytes=1024, hop_bytes=512).collect()}
    wid = {(r.doc_id, r.window_idx): r.afp for r in
           audio_fingerprints(
               df, window_bytes=1024, hop_bytes=512, wide=True
           ).collect()}
    assert set(nar) == set(wid)
    for k, fp in wid.items():
        assert len(fp) == 128
        assert fp.startswith(nar[k])

    # 128-bit pairing: re-uploads collide at hamming 0 under the
    # 4 x 32-bit banded kit; the pigeonhole contract still validates
    sigs = ahash_images(df, use_real=False, method="ahash_dhash")
    pairs = {
        (r.id_lo, r.id_hi): r.hamming
        for r in bitstring_near_dup_pairs(
            sigs.select("doc_id", F.col("phash")),
            sig_col="phash", n_bits=128, max_hamming=3, bands=4,
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    with pytest.raises(ValueError, match="not divisible"):
        bitstring_near_dup_pairs(sigs, n_bits=127, bands=4)
    with pytest.raises(ValueError, match="unknown perceptual-hash"):
        ahash_images(df, method="widehash")


def test_audio_fingerprints_windows_and_twin(spark):
    """audio_fingerprints: windowing contract (overlapping hop
    windows; short blobs get one whole-blob window), python-twin
    exactness of every window's gradient bits, trim robustness (a
    hop-aligned leading trim shifts window INDEXES but window
    CONTENTS still collide — the property a whole-file hash lacks),
    and validation."""
    import numpy as np

    from lichess_db_spark.multimodal.media import audio_fingerprints

    rng = bytes((i * 37 + (i // 11) * 101) % 256 for i in range(2300))
    short = bytes(range(100))
    trimmed = rng[512:]  # leading trim of exactly one hop
    df = spark.createDataFrame(
        [(1, rng), (2, short), (3, trimmed)], "doc_id long, data binary"
    )
    rows = audio_fingerprints(df, window_bytes=1024, hop_bytes=512).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.window_idx] = r.afp
    # window counts: (2300-1024)//512+1 = 3; short -> 1; trimmed: (1788-1024)//512+1 = 2
    assert set(by_doc[1]) == {0, 1, 2}
    assert set(by_doc[2]) == {0}
    assert set(by_doc[3]) == {0, 1}

    def twin(blob):
        a = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
        n = a.size
        blocks = (np.arange(n) * 65) // n
        s = np.bincount(blocks, weights=a, minlength=65).astype(np.int64)
        c = np.bincount(blocks, minlength=65).astype(np.int64)
        return "".join(
            "1" if s[i] * c[i + 1] < s[i + 1] * c[i] else "0" for i in range(64)
        )

    assert by_doc[1][0] == twin(rng[0:1024])
    assert by_doc[1][2] == twin(rng[1024:2048])
    assert by_doc[2][0] == twin(short)
    # trim robustness: trimmed's window w equals rng's window w+1
    assert by_doc[3][0] == by_doc[1][1]
    assert by_doc[3][1] == by_doc[1][2]

    with pytest.raises(ValueError, match="positive"):
        audio_fingerprints(df, window_bytes=0)
    with pytest.raises(ValueError, match="skip"):
        audio_fingerprints(df, window_bytes=512, hop_bytes=1024)
    with pytest.raises(ImportError, match="codec"):
        audio_fingerprints(df, use_real=True)


def test_video_fp_near_dup_matches_reuploads(spark, tmp_path):
    """The video entry end to end on a tiny synthetic corpus: byte-
    identical re-uploads (the _phash_corpus %25/%50 rules) must match
    on EVERY sampled frame at hamming 0; unrelated tracks must not
    pair. Also pins the frame contract: min(4, 1+bytes/256) frames."""
    import os

    from lichess_db_spark.multimodal.media import frame_sample
    from lichess_db_spark.plans.registry import QUERIES

    long_a = " ".join(f"tok{i*7%97}x{i}" for i in range(200))  # >1024 bytes
    long_b = " ".join(f"zz{i*13%89}q{i}" for i in range(200))
    rows = [(25, long_a), (50, long_b), (7, "short clip")]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    # frame contract on the raw blobs
    nf = {
        r.doc_id: r.cnt
        for r in frame_sample(
            spark.createDataFrame(rows, "doc_id long, text string").select(
                "doc_id", F.encode("text", "UTF-8").alias("data")
            ),
            max_frames=4,
            stride_bytes=256,
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert nf[25] == 4 and nf[7] == 1  # long: capped at 4; short: 1

    got = {
        (r.track_lo, r.track_hi): (r.n_frame_matches, r.min_hamming)
        for r in QUERIES["video_fp_near_dup"].build(spark, d).collect()
    }
    # doc 25 -> re-upload 1000025 (identical): all 4 frames match at 0
    assert got[(25, 1000025)][1] == 0 and got[(25, 1000025)][0] >= 4
    # doc 50 -> re-uploads 1000050 AND 2000050: a 3-member clique
    for pair in ((50, 1000050), (50, 2000050), (1000050, 2000050)):
        assert got[pair][1] == 0
    # unrelated originals never pair with each other
    assert (25, 50) not in got and (7, 25) not in got


def test_staged_persist_slot_bounded(spark):
    """ADVICE r9: mm_phash_dedup's persisted signature relation is a
    named slot — rebuilding the entry unpersists the previous build's
    cache, so a sweep holds at most ONE cached relation per entry
    instead of leaking one per call."""
    from lichess_db_spark.plans import catalog_staged as cs

    from .conftest import SF_MED, SF_SMALL

    # two DIFFERENT plans (distinct sf dirs): without the slot, both
    # would stay cached; with it, the rebuild evicts the first. (Two
    # IDENTICAL plans never double-cache — Spark's cacheManager keys on
    # the analyzed plan — so the leak the slot guards against is the
    # cross-input/cross-sweep variant.)
    cs.mm_phash_dedup(spark, SF_SMALL)
    first = cs._PERSIST_SLOTS["mm_phash_dedup.sigs"]
    assert first.storageLevel.useMemory
    cs.mm_phash_dedup(spark, SF_MED)
    second = cs._PERSIST_SLOTS["mm_phash_dedup.sigs"]
    assert second is not first
    assert not first.storageLevel.useMemory  # evicted, recompute-correct
    assert second.storageLevel.useMemory
    second.unpersist()
    del cs._PERSIST_SLOTS["mm_phash_dedup.sigs"]


def test_incremental_index_serves_audio_windows(spark, tmp_path):
    """Modality symmetry of the incremental near-dup family: the
    SAME incremental pHash core (posting archive + signature side
    table + Hamming verify) serves the audio WINDOW fingerprints
    unchanged — composite (track, window) ids are just ids. Union of
    per-batch pairs over an arrival split == the one-shot batch
    pairing of all windows."""
    from lichess_db_spark.multimodal.media import audio_fingerprints
    from lichess_db_spark.operators.dedup import (
        bitstring_near_dup_pairs,
        incremental_phash_near_dup,
    )

    base = bytes((i * 31 + (i // 7) * 13) % 256 for i in range(1600))
    tweaked = bytearray(base)
    tweaked[100] = (tweaked[100] + 120) % 256
    rows = [(1, base), (2, bytes(base)), (3, bytes(tweaked))]
    fps = audio_fingerprints(
        spark.createDataFrame(rows, "doc_id long, data binary"),
        window_bytes=1024,
        hop_bytes=512,
    )
    wsig = fps.select(
        (F.col("doc_id") * 100000 + F.col("window_idx")).alias("doc_id"),
        F.col("afp").alias("phash"),
    ).persist()
    want = {
        (r.id_lo, r.id_hi, r.hamming)
        for r in bitstring_near_dup_pairs(wsig, max_bucket_size=None).collect()
    }
    assert want  # identical tracks produce hamming-0 window pairs
    got = set()
    for b in range(2):
        batch = wsig.where(F.col("doc_id") % 2 == b)
        pairs = incremental_phash_near_dup(
            batch,
            str(tmp_path / "post"),
            str(tmp_path / "sigs"),
            max_postings_per_key=None,
            batch_id=b,
        )
        got |= {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}
    assert got == want
    wsig.unpersist()


def test_dhash_gradient_variant(spark):
    """dHash: brightness-shift robustness (adding a constant to every
    byte flips many aHash bits but NO dHash bits — the gradient is
    shift-invariant), python-twin exactness, and validation."""
    from lichess_db_spark.multimodal.media import ahash_images

    base = bytes(range(30, 190)) * 4
    brighter = bytes(min(255, b + 40) for b in base)  # uniform shift
    df = spark.createDataFrame(
        [(1, base), (2, brighter)], "doc_id long, data binary"
    )
    d = {r.doc_id: r.phash for r in ahash_images(df, use_real=False, method="dhash").collect()}
    a = {r.doc_id: r.phash for r in ahash_images(df, use_real=False, method="ahash").collect()}
    assert len(d[1]) == 64
    # gradient invariance under the (non-clipped) shift region
    ham_d = sum(x != y for x, y in zip(d[1], d[2]))
    ham_a = sum(x != y for x, y in zip(a[1], a[2]))
    assert ham_d <= ham_a  # dhash at least as shift-robust
    assert ham_d <= 8  # clipping at 255 may move a few edge gradients

    # python twin
    import numpy as np

    arr = np.frombuffer(base, dtype=np.uint8).astype(np.int64)
    n = arr.size
    blocks = (np.arange(n) * 65) // n
    sums = np.bincount(blocks, weights=arr, minlength=65).astype(np.int64)
    cnts = np.bincount(blocks, minlength=65).astype(np.int64)
    want = "".join(
        "1" if sums[i] * cnts[i + 1] < sums[i + 1] * cnts[i] else "0"
        for i in range(64)
    )
    assert d[1] == want

    with pytest.raises(ValueError, match="method"):
        ahash_images(df, use_real=False, method="phash64")


def test_matryoshka_topk_recall_and_validation(emb):
    """The 16-dim coarse pass + full-dim rerank must recover most of
    the exact top-5 (recall floor vs brute force — the MRL property
    that prefixes preserve coarse geometry), every reranked score must
    equal the brute-force exact cosine, and parameter validation fails
    loud."""
    from lichess_db_spark.operators.similarity import (
        brute_force_topk,
        matryoshka_topk,
    )

    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    mrl = {
        (r.query_id, r.neighbor_id): r.score
        for r in matryoshka_topk(emb, queries, k=5, prefix_dim=16).collect()
    }
    hits = set(exact) & set(mrl)
    recall = len(hits) / len(exact)
    # the FIXTURE embeddings are isotropic (not MRL-trained), so the
    # 16-dim prefix carries only 1/4 of the geometry — the honest
    # floor is "the coarse stage beats drawing the same candidate
    # budget at random", not a trained model's 0.9+: random overfetch
    # of 50 from this corpus would recall ~overfetch/corpus.
    n_corpus = emb.count() - 1
    random_baseline = min(1.0, 50 / n_corpus)
    assert recall >= max(0.4, 2 * random_baseline), (
        f"matryoshka recall collapsed: {recall:.2f} "
        f"(random baseline {random_baseline:.2f})"
    )
    for pair in hits:  # reranked scores are the exact cosine
        assert mrl[pair] == exact[pair]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overfetch"):
        matryoshka_topk(emb, queries, k=10, overfetch=5)

    # ADVICE r9: the coarse stage must shuffle only ids + coarse_score
    # through the per-query TopK window — the full q_vec/c_vec join
    # back AFTER the overfetch cut. The window's exchange is the only
    # hashpartitioning(query_id...) below the rank computation; assert
    # no full-vector column crosses it.
    df = matryoshka_topk(emb, queries, k=5, prefix_dim=16)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    window_nodes = [
        seg for seg in plan.split("\n\n")
        if "row_number" in seg and "coarse_score" in seg and "Window" in seg
    ]
    assert window_nodes, plan[:2000]
    for seg in window_nodes:
        assert "q_vec" not in seg and "c_vec" not in seg, seg


def test_embedding_top_pc_recovers_planted_direction(spark):
    """Power iteration on an ENGINEERED anisotropic corpus: vectors =
    planted unit direction u scaled by +-(2..4) plus small orthogonal
    noise — three iterations must align with u (|cosine| > 0.99), and
    the returned 1e6-scaled vector must be unit-norm on its grid. The
    fixture entry's cross-engine exactness is pinned by the oracle
    hash; this pins that the MATH does what PCA should."""
    import math
    import os
    import shutil
    import tempfile

    from lichess_db_spark.plans.registry import QUERIES

    d = tempfile.mkdtemp(prefix="pc_")
    try:
        D = 64
        u = [1.0 if i < 4 else 0.0 for i in range(D)]  # planted direction
        rows = []
        for k in range(200):
            scale = (2.0 + (k % 5) * 0.5) * (1 if k % 2 == 0 else -1)
            noise_pos = 4 + (k % (D - 4))
            vec = [u[i] * scale / 2.0 for i in range(D)]
            vec[noise_pos] += 0.25 if k % 3 == 0 else -0.25
            rows.append((k, vec))
        spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "embeddings.parquet"))
        got = {
            r.pos: r.pc_scaled
            for r in QUERIES["embedding_top_pc"].build(spark, d).collect()
        }
        assert sorted(got) == list(range(1, D + 1))
        nrm = math.sqrt(sum(v * v for v in got.values()))
        assert abs(nrm - 1e6) < 100  # unit on the 1e6 grid (rounding slack)
        dot = sum(got[i + 1] * u[i] for i in range(D)) / (nrm * 2.0)
        assert abs(dot) > 0.99, (dot, got)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_embedding_remove_top_pc_orthogonal_residual(spark):
    """After all-but-the-top, every residual's projection onto the
    removed component is ~0 (|dot| bounded by the 1e-6 grid rounding),
    and untouched directions keep their values."""
    from collections import defaultdict

    from .conftest import SF_SMALL
    from lichess_db_spark.plans.registry import QUERIES

    pc = {
        r.pos: r.pc_scaled / 1e6
        for r in QUERIES["embedding_top_pc"].build(spark, SF_SMALL).collect()
    }
    res = defaultdict(dict)
    for r in (
        QUERIES["embedding_remove_top_pc"]
        .build(spark, SF_SMALL)
        .where(F.col("vec_id") < 20)
        .collect()
    ):
        res[r.vec_id][r.pos] = r.value
    assert res
    for vid, vals in res.items():
        assert sorted(vals) == list(range(1, 65)), vid
        dot = sum(vals[p] * pc[p] for p in pc)
        assert abs(dot) < 1e-4, (vid, dot)  # grid-rounded projection removed
