"""Multimodal (image/audio/video) column plumbing.

Media content is modeled as an opaque ``binary`` column plus typed
metadata — the Spark-native shape for multimodal training data. The
transforms are Arrow-batched ``mapInPandas`` pipelines: the batch
shape, schema handling, and partitioning are real and tested; only
the codec itself is stubbed (image/audio libraries are not available
in this container). Swap ``_decode_stub`` for PIL/ffmpeg in a real
deployment — the Spark-side contract is unchanged.

Scale notes: mapInPandas streams Arrow batches, so peak executor
memory is one batch of binaries, not a partition; repartition by a
size-aware key upstream if media blobs are skewed (e.g. bucket by
octet_length ranges) so no single task gets all the 4K videos.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)

# PIL-if-available gate (same pattern as the protobuf gate on
# transformWithStateInPandas): real decode when the library exists in
# the environment, deterministic stub otherwise — identical schema
# either way. Executors re-import this module, so the gate resolves
# per-process, not just on the driver.
try:
    from PIL import Image as _PILImage  # type: ignore

    HAVE_REAL_CODECS = True
except ImportError:
    _PILImage = None
    HAVE_REAL_CODECS = False


def _decode_stub(doc_id: "pd.Series", data: "pd.Series") -> "pd.DataFrame":
    """Deterministic fake decoder.

    A real implementation would be::

        from PIL import Image
        img = Image.open(io.BytesIO(blob)); w, h = img.size

    which is exactly as vectorizable under mapInPandas. The stub
    derives metadata arithmetically from doc_id so results are
    reproducible and oracle-checkable.
    """
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "n_bytes": data.str.len().astype("int64"),
            "width": (64 * (1 + doc_id % 16)).astype("int32"),
            "height": (64 * (1 + (doc_id // 16) % 16)).astype("int32"),
            "format": np.where(doc_id % 2 == 0, "png", "jpeg"),
        }
    )


def _decode_pil(doc_id: "pd.Series", data: "pd.Series") -> "pd.DataFrame":
    """Real PIL decoder — active when PIL is importable. Same schema as
    the stub; blobs PIL can't parse yield NULL width/height/format
    (web-scale reality: one corrupt blob must not kill the Arrow
    batch). ``Image.open`` reads only the header lazily, so metadata
    extraction never decompresses full pixel data."""
    import io

    import pandas as pd

    widths: list = []
    heights: list = []
    fmts: list = []
    for blob in data:
        try:
            img = _PILImage.open(io.BytesIO(blob))
            w, h = img.size
            widths.append(w)
            heights.append(h)
            fmts.append((img.format or "").lower() or None)
        except Exception:  # corrupt / non-image blob
            widths.append(None)
            heights.append(None)
            fmts.append(None)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "n_bytes": data.str.len().astype("int64"),
            "width": pd.array(widths, dtype="Int32"),
            "height": pd.array(heights, dtype="Int32"),
            "format": fmts,
        }
    )


def decode_images(
    df: DataFrame,
    id_col: str = "doc_id",
    data_col: str = "data",
    use_real: bool | None = None,
) -> DataFrame:
    """binary column -> decoded metadata via Arrow-batched mapInPandas.

    ``use_real=None`` (default) picks the PIL decoder when PIL is
    importable, the deterministic stub otherwise; pass True/False to
    force (True without PIL raises up front, not per-task)."""
    if use_real is None:
        use_real = HAVE_REAL_CODECS
    if use_real and not HAVE_REAL_CODECS:
        raise ImportError(
            "decode_images(use_real=True) requires PIL; install pillow "
            "or use the deterministic stub (use_real=False)"
        )
    decode = _decode_pil if use_real else _decode_stub

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield decode(pdf[id_col], pdf[data_col])

    return df.mapInPandas(run, schema=DECODE_SCHEMA)


def frame_sample_stub(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling plumbing: explode a (stubbed) frame index
    array per blob; a real decoder would emit one binary per frame."""
    return df.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx"),
    )


def frame_sample(
    df: DataFrame,
    max_frames: int = 4,
    stride_bytes: int = 256,
    id_col: str = "doc_id",
    data_col: str = "data",
) -> DataFrame:
    """Data-dependent frame sampling over opaque media blobs: each blob
    yields ``min(max_frames, 1 + n_bytes // stride_bytes)`` evenly-spaced
    frames, emitted as (doc_id, frame_idx, n_bytes, byte_offset) rows. A
    real video decoder would seek to ``byte_offset`` (container keyframe
    index in practice) and emit one binary per frame; the offset
    arithmetic, row explosion, and schema are the part Spark owns.

    Pure ``explode(sequence(...))`` — map-side only, no shuffle, codegen
    all the way; at 100 TB the fan-out multiplies rows, never bytes,
    until a decoder materializes frames downstream.
    """
    n_bytes = F.octet_length(F.col(data_col)).cast("bigint")
    n_frames = F.least(
        F.lit(max_frames).cast("bigint"),
        F.lit(1) + (n_bytes / F.lit(stride_bytes)).cast("bigint"),
    )
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        n_bytes.alias("n_bytes"),
        n_frames.alias("__nf"),
    )
    return staged.select(
        "doc_id",
        "n_bytes",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("__nf") - 1)).alias(
            "frame_idx"
        ),
        "__nf",
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "n_bytes",
        (F.col("frame_idx") * F.floor(F.col("n_bytes") / F.col("__nf")))
        .cast("bigint")
        .alias("byte_offset"),
    )


FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_printable", LongType()),
        StructField("n_digits", LongType()),
        StructField("n_newlines", LongType()),
    ]
)


def extract_byte_features(
    df: DataFrame, id_col: str = "doc_id", data_col: str = "data"
) -> DataFrame:
    """REAL (non-stub) feature extraction over opaque binary: byte-class
    counts via numpy kernels inside Arrow-batched mapInPandas — the
    codec-free tier of media featurization (magic sniffing, text-vs-
    binary classification, compression-ratio heuristics all start
    here). Counts, not ratios, so the output is exactly integer and
    engine-portable.

    For UTF-8 encoded text blobs the byte counts equal code-point
    counts for the pure-ASCII classes (continuation bytes are >= 0x80,
    lead bytes >= 0xC2 — never inside [0x20,0x7E], never 0x0A/0x30-39),
    which is what makes a SQL oracle over the decoded text possible.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col],
                "n_bytes": [],
                "n_printable": [],
                "n_digits": [],
                "n_newlines": [],
            }
            for blob in pdf[data_col]:
                a = np.frombuffer(blob or b"", dtype=np.uint8)
                out["n_bytes"].append(a.size)
                out["n_printable"].append(int(((a >= 0x20) & (a <= 0x7E)).sum()))
                out["n_digits"].append(int(((a >= 0x30) & (a <= 0x39)).sum()))
                out["n_newlines"].append(int((a == 0x0A).sum()))
            yield pd.DataFrame(out).astype(
                {c: "int64" for c in out if c != "doc_id"}
            )

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("data", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    data_col: str = "data",
) -> DataFrame:
    """Resize blobs to (width, height) via Arrow-batched mapInPandas —
    PIL-gated like decode_images. A resize cannot be faked with a
    deterministic stub (the output IS pixel data), so without pillow
    this raises up front; blobs PIL can't parse yield a NULL data cell
    rather than killing the batch. Re-encodes as PNG (deterministic,
    lossless)."""
    if not HAVE_REAL_CODECS:
        raise ImportError(
            "resize_images requires PIL (pillow); decode_images has a "
            "stub fallback because metadata can be faked — pixels cannot"
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io

        import pandas as pd

        for pdf in batches:
            out_ids, out_data, ws, hs = [], [], [], []
            for doc_id, blob in zip(pdf[id_col], pdf[data_col]):
                out_ids.append(doc_id)
                try:
                    img = _PILImage.open(io.BytesIO(blob)).resize((width, height))
                    buf = io.BytesIO()
                    img.save(buf, format="PNG")
                    out_data.append(buf.getvalue())
                    ws.append(width)
                    hs.append(height)
                except Exception:
                    out_data.append(None)
                    ws.append(None)
                    hs.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": out_ids,
                    "data": out_data,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                }
            )

    return df.mapInPandas(run, schema=RESIZE_SCHEMA)


def read_media_dir(
    spark, path: str, glob: str = "*", recursive: bool = False
) -> DataFrame:
    """Directory of media blobs -> (doc_id, data, path, length) via the
    built-in ``binaryFile`` source — the ingestion edge for image/audio
    dirs. Filename stem digits become doc_id (typical dataset layout:
    ``000042.jpg``); non-numeric stems fall back to a stable hash.

    binaryFile gives partition pruning on ``pathGlobFilter`` and a
    per-file row with modificationTime/length — at 100 TB prefer many
    medium files over few huge ones (a file is one task's row).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    stem = F.regexp_extract(F.element_at(F.split("path", "/"), -1), r"(\d+)", 1)
    return raw.select(
        F.when(stem != "", stem.cast("long"))
        .otherwise(F.pmod(F.xxhash64("path"), F.lit(2**62)))
        .alias("doc_id"),
        F.col("content").alias("data"),
        "path",
        "length",
    )


def spread_by_size(df: DataFrame, data_col: str = "data", target_partition_bytes: int = 128 << 20) -> DataFrame:
    """Size-aware repartition for skewed blob columns: range-partition
    on cumulative-ish size buckets so one task doesn't get all the 4K
    videos. Approximation: hash-partition with a partition count sized
    by total bytes / target (a real cluster would use a custom
    partitioner over a prefix-sum; for DataFrames, count x mean size
    is the available statistic without an extra pass)."""
    stats = df.select(
        F.count("*").alias("n"), F.avg(F.octet_length(F.col(data_col))).alias("mean_b")
    ).first()
    if not stats.n:
        return df
    total = int(stats.n * (stats.mean_b or 0))
    parts = max(1, min(10000, total // target_partition_bytes + 1))
    return df.repartition(int(parts))


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", StringType()),
    ]
)


def _ahash_bits_from_gray(gray: "list[int]") -> str:
    """The aHash bit rule over a flat gray-value sequence: split into
    64 equal-span blocks, bit b = 1 iff the block mean exceeds the
    global mean — decided by EXACT integer cross-multiplication
    (block_sum * n_total > total_sum * block_count), never a float
    division, so any engine reproduces every bit. Shared by the
    byte-stub and the PIL paths (for an 8x8 resize the 64 'blocks'
    are single pixels and the rule degrades to the classic
    pixel > mean)."""
    import numpy as np

    a = np.asarray(gray, dtype=np.int64)
    n = a.size
    blocks = (np.arange(n, dtype=np.int64) * 64) // n
    # bincount's float64 weights are exact here: block sums are
    # integers far below 2^53
    sums = np.bincount(blocks, weights=a, minlength=64).astype(np.int64)
    cnts = np.bincount(blocks, minlength=64).astype(np.int64)
    bits = sums * n > int(a.sum()) * cnts
    return "".join("1" if b else "0" for b in bits)


def _dhash_bits_from_gray(gray: "list[int]") -> str:
    """The dHash (difference/gradient hash) bit rule: split into 65
    equal-span blocks, bit b = 1 iff block b's mean < block b+1's mean
    — the GRADIENT between adjacent regions, robust to global
    brightness shifts that flip every aHash bit at once. Same exact
    integer cross-multiplication discipline (sum_b * cnt_{b+1} <
    sum_{b+1} * cnt_b), engine-portable bit for bit. This is the
    FLAT-sequence gradient variant (65 cells -> 64 adjacent
    comparisons); the classic 2-D dHash compares within rows of a
    9x8 grid — same robustness property, one fewer reshape."""
    import numpy as np

    a = np.asarray(gray, dtype=np.int64)
    n = a.size
    blocks = (np.arange(n, dtype=np.int64) * 65) // n
    sums = np.bincount(blocks, weights=a, minlength=65).astype(np.int64)
    cnts = np.bincount(blocks, minlength=65).astype(np.int64)
    bits = sums[:-1] * cnts[1:] < sums[1:] * cnts[:-1]
    return "".join("1" if b else "0" for b in bits)


def ahash_images(
    df: DataFrame,
    id_col: str = "doc_id",
    data_col: str = "data",
    use_real: bool | None = None,
    method: str = "ahash",
) -> DataFrame:
    """Perceptual hash per blob -> '0'/'1' bit string, the image-dedup
    signature (near-identical images differ in a few bits; pair them
    with :func:`~..operators.dedup.bitstring_near_dup_pairs`).
    ``method="ahash"``/``"dhash"`` emit 64 chars; the production-scale
    ``method="ahash_dhash"`` emits the 128-char wide concat (see the
    band-key sizing rationale below).

    Real path (PIL importable or ``use_real=True``): decode ->
    grayscale ('L') -> 8x8 resize -> the classic average-hash bit
    rule. Stub path (this container): the SAME aHash math applied to
    the raw BYTES as a 1-D gray sequence — the decode step is the
    identity, the perceptual-hash math is real, deterministic and
    oracle-checkable, and it keeps the stub locality-sensitive
    (blobs differing in a few bytes differ in a few bits, unlike an
    md5 stand-in). Empty/NULL blobs are dropped (no pixels, no
    hash).

    Scale: Arrow-batched mapInPandas, one pass, no shuffle; peak
    memory is one batch of blobs. O(bytes) per blob — the same order
    as the decode it rides along with."""
    if method not in ("ahash", "dhash", "ahash_dhash"):
        raise ValueError(f"unknown perceptual-hash method {method!r}")
    if method == "ahash":
        bits_fn = _ahash_bits_from_gray
    elif method == "dhash":
        bits_fn = _dhash_bits_from_gray
    else:
        # 128-bit WIDE signature: aHash ++ dHash over the same gray
        # sequence, ONE pass per blob (the production shape; the
        # join-of-two-passes variant in tools/bench_scale.py ran the
        # decode+kernel twice and shuffled an extra join). Why width:
        # the banded Hamming pairing tier's key space is
        # 2^(n_bits/bands) per band — BENCH_SCALE_R12_VIDEO measured
        # the 64-bit/4-band tier's 16-bit keys birthday-SATURATING
        # under frame fan-out (259k of 262k keys occupied at 64x,
        # candidate pairs super-linear at alpha 1.24, every extra
        # pair rejected by the verify); 4 x 32-bit keys restore
        # keys_per_band >> signatures/16 while keeping the pigeonhole
        # guarantee (bands > max_hamming) AND both halves are real
        # perceptual-hash rules, so near-dup locality is preserved.
        def bits_fn(gray: "list[int]") -> str:
            return _ahash_bits_from_gray(gray) + _dhash_bits_from_gray(gray)
    if use_real is None:
        use_real = HAVE_REAL_CODECS
    if use_real and not HAVE_REAL_CODECS:
        raise ImportError(
            "ahash_images(use_real=True) requires PIL; the byte-stub "
            "path (use_real=False) needs no codec"
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io

        import pandas as pd

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, blob in zip(pdf[id_col], pdf[data_col]):
                if blob is None or len(blob) == 0:
                    continue
                if use_real:
                    try:
                        # ahash: 8x8 (64 blocks = 64 pixels);
                        # dhash: 65 flat cells -> adjacent-cell gradient;
                        # ahash_dhash: 128 cells so both rules see >=1
                        # cell per block
                        size = {
                            "ahash": (8, 8),
                            "dhash": (13, 5),
                            "ahash_dhash": (16, 8),
                        }[method]
                        img = (
                            _PILImage.open(io.BytesIO(blob))
                            .convert("L")
                            .resize(size)
                        )
                        gray = list(img.getdata())
                    except Exception:  # corrupt blob: no hash row
                        continue
                else:
                    gray = list(blob)
                ids.append(doc_id)
                hashes.append(bits_fn(gray))
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    return df.mapInPandas(run, schema=AHASH_SCHEMA)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("afp", StringType()),
    ]
)


def audio_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    data_col: str = "data",
    window_bytes: int = 1024,
    hop_bytes: int = 512,
    use_real: bool | None = None,
    wide: bool = False,
) -> DataFrame:
    """Chromaprint-SHAPED audio fingerprint: a SERIES of
    sub-fingerprints (64-bit; 128-bit dHash++aHash with ``wide=True``,
    the production-scale config) over overlapping windows of the
    stream — one row (id, window_idx, afp) per window — rather than
    one hash per file,
    because audio near-dup must survive trims/offsets: two tracks
    match when ANY window pair is Hamming-close, so the pairing tier
    is :func:`~..operators.dedup.bitstring_near_dup_pairs` over the
    exploded window relation with a composite (track, window) id —
    the fourth modality (text / embeddings / images / audio) on the
    SAME Hamming kit, zero new pairing code (VERDICT r9 item 7).

    Per window the bit rule is the adjacent-energy GRADIENT (the
    dHash rule over 65 equal-span blocks: bit b = 1 iff block b's
    mean < block b+1's mean by exact integer cross-multiplication) —
    chromaprint's real descriptor compares adjacent spectral-band
    energies across frames; over the byte-stub 'PCM' the adjacent
    block-energy gradient is the honest shape-preserving analogue,
    robust to a constant DC offset exactly as chromaprint is to
    volume. No audio codec ships in this container, so the decode
    step is the byte identity (``use_real=True`` raises ImportError
    like the PIL gate); the windowing, the exact-integer bit rule,
    the Arrow batch shape and the pairing plumbing are all real and
    oracle-checked.

    Windowing contract: windows start at multiples of ``hop_bytes``;
    a blob of n bytes yields max(floor((n - window_bytes) /
    hop_bytes) + 1, 1) windows — blobs shorter than one window get a
    single whole-blob window; empty/NULL blobs are dropped. Scale:
    Arrow-batched mapInPandas, map-only; output volume is
    bytes/hop_bytes rows per blob."""
    if window_bytes <= 0 or hop_bytes <= 0:
        raise ValueError(
            f"window_bytes and hop_bytes must be positive: "
            f"{window_bytes}, {hop_bytes}"
        )
    if hop_bytes > window_bytes:
        raise ValueError(
            f"hop_bytes {hop_bytes} > window_bytes {window_bytes} would "
            "skip bytes between windows"
        )
    if use_real is None:
        use_real = False  # no audio codec is ever baked in here
    if use_real:
        raise ImportError(
            "audio_fingerprints(use_real=True): no audio codec in this "
            "container; the byte-stub path (use_real=False) needs none"
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, widx, fps = [], [], []
            for doc_id, blob in zip(pdf[id_col], pdf[data_col]):
                if blob is None or len(blob) == 0:
                    continue
                n = len(blob)
                nw = max((n - window_bytes) // hop_bytes + 1, 1)
                for w in range(nw):
                    gray = list(blob[w * hop_bytes : w * hop_bytes + window_bytes])
                    ids.append(doc_id)
                    widx.append(w)
                    # wide=True: 128-bit dHash ++ aHash per window (the
                    # base gradient rule stays the signature PREFIX).
                    # Why: the banded pairing tier's per-band key space
                    # is 2^(n_bits/bands); the per-track window fan-out
                    # here is n_bytes/hop — even larger than the video
                    # tier whose 16-bit keys measurably saturated
                    # (BENCH_SCALE_R12_VIDEO) — so production corpora
                    # need 4 x 32-bit band keys: keys_per_band >>
                    # windows/16, the bitstring analogue of
                    # auto_n_planes.
                    fp = _dhash_bits_from_gray(gray)
                    if wide:
                        fp += _ahash_bits_from_gray(gray)
                    fps.append(fp)
            yield pd.DataFrame({"doc_id": ids, "window_idx": widx, "afp": fps})

    return df.mapInPandas(run, schema=AUDIO_FP_SCHEMA)
