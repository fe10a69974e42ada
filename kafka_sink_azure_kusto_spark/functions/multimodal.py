"""Multimodal-column operators (north-star additions, SURVEY §7.3.6).

Design for image/audio/video at 100 TB: media are opaque ``binary``
columns + typed metadata; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas``
(one Python worker per partition, zero-copy Arrow transfer, bounded
batch memory via spark.sql.execution.arrow.maxRecordsPerBatch).

Decoding is REAL and dependency-free: ``functions/codecs.py``
implements BMP / PPM / WAV / PNG from their public specs (row padding,
bottom-up order, BGR swap, RIFF chunk walk, PNG filters and Adam7),
``functions/jpeg.py`` baseline JPEG and ``functions/gif.py`` GIF, all
behind one magic-byte dispatch (``decode_media_bytes``). The decode
operators emit statistics over the DECODED pixel/sample values.
Fixture payloads are synthesized deterministically from ``doc_id``
(per-channel arithmetic series), so the DuckDB oracles recompute the
expected content stats independently with ``generate_series`` — a
wrong stride / channel order / row direction in the decoder breaks the
cross-engine hash.

Every fixture operator is one ``_map_media`` pass over the
``(doc_id, mid)`` rows ``_media_rows`` selects: the runner synthesizes
each payload, decodes it once and hands the decoded media to the
operator's per-row kernel.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.functions.parallelism import (
    ensure_min_parallelism,
)
from kafka_sink_azure_kusto_spark.functions.codecs import (
    DecodedMedia,
    MediaDecodeError,
    decode_media_bytes,
    encode_bmp,
    encode_png,
    encode_ppm,
    encode_wav,
)

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sample_sum", LongType(), False),
        StructField("sample_min", LongType(), False),
        StructField("sample_max", LongType(), False),
        StructField("checksum", LongType(), False),
    ]
)


def synth_media_payload(doc_id: int) -> bytes:
    """Deterministic media fixture for ``doc_id`` (the spec the DuckDB
    oracles replicate with generate_series):

    - kind = doc_id % 3 → 0: BMP or PNG (PNG when doc_id % 6 == 3 —
      half the kind-0 docs carry the real-corpus format, r11),
      1: PPM, 2: WAV
    - images: width = 4 + doc_id % 13, height = 3 + doc_id % 7; pixel i
      (row-major) has channels r=(doc_id*31+i*7)%256,
      g=(doc_id*37+i*11)%256, b=(doc_id*41+i*13)%256 — IDENTICAL
      across BMP/PNG, so content-stat oracles are container-agnostic
      and only media_type / n_bytes formulas split on the format
    - PNG fixtures use stored-deflate (closed-form byte count) with
      filter types cycling row % 5, so every decoder filter rule is
      load-bearing for the cross-engine hash
    - audio: n = 50 + doc_id % 100 samples of
      ((doc_id*131 + i*17) % 65536) - 32768 at
      rate 8000 + (doc_id % 5) * 1000
    """
    kind = doc_id % 3
    if kind == 2:
        n = 50 + doc_id % 100
        i = np.arange(n, dtype=np.int64)
        samples = (doc_id * 131 + i * 17) % 65536 - 32768
        return encode_wav(samples, 8000 + (doc_id % 5) * 1000)
    w, h = 4 + doc_id % 13, 3 + doc_id % 7
    i = np.arange(w * h, dtype=np.int64)
    rgb = np.empty(3 * w * h, dtype=np.int64)
    rgb[0::3] = (doc_id * 31 + i * 7) % 256
    rgb[1::3] = (doc_id * 37 + i * 11) % 256
    rgb[2::3] = (doc_id * 41 + i * 13) % 256
    if kind == 0:
        return (encode_bmp if doc_id % 6 == 0 else encode_png)(w, h, rgb)
    return encode_ppm(w, h, rgb)


def _media_rows(
    df: DataFrame, id_col: str, media_id=None, kind: str | None = None
) -> DataFrame:
    """(doc_id, mid) rows for the Arrow pass: ``mid`` is the payload
    identity (``media_id`` Column, default the doc id). ``kind="image"``
    / ``"audio"`` keeps only that fixture kind (kind 2 = WAV under
    ``synth_media_payload``'s rule) with a JVM-side filter BELOW the
    Arrow pass — the cheap-filter-before-expensive-decode ordering."""
    mid = media_id if media_id is not None else F.col(id_col)
    rows = df.select(F.col(id_col).alias("doc_id"), mid.cast("long").alias("mid"))
    if kind == "image":
        return rows.filter(F.col("mid") % 3 != 2)
    if kind == "audio":
        return rows.filter(F.col("mid") % 3 == 2)
    return rows


def _map_media(
    base: DataFrame,
    schema: StructType,
    rows: Callable[[tuple, bytes, DecodedMedia], Iterable[tuple]],
    key: str = "mid",
) -> DataFrame:
    """The one Arrow pass behind every fixture media operator: per input
    row, synthesize the payload of ``row.<key>``, decode it ONCE, and
    emit ``rows(row, blob, decoded)`` — tuples in ``schema`` order.
    Narrow (no shuffle); memory is bounded by the Arrow batch. In
    production the blob comes straight off the parquet binary column and
    the synthesis step disappears."""
    cols = schema.fieldNames()
    longs = [f.name for f in schema.fields if isinstance(f.dataType, LongType)]

    def body(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                blob = synth_media_payload(int(getattr(row, key)))
                out.extend(rows(row, blob, decode_media_bytes(blob)))
            frame = pd.DataFrame(out, columns=cols)
            for c in longs:
                frame[c] = frame[c].astype("int64")
            yield frame

    # one partition = one serial Python worker pass: widen a
    # low-partition input so the Arrow decode batches parallelize
    return ensure_min_parallelism(base).mapInPandas(body, schema=schema)


def _signal_stats(s: np.ndarray) -> tuple[int, int, int]:
    """(size, sum, checksum) of a decoded or transformed signal. The
    checksum is position-weighted so sample ORDER (row direction,
    channel interleave, stride handling, a transposed gather) is
    asserted, not just the bag."""
    weights = np.arange(1, s.size + 1, dtype=np.int64)
    return int(s.size), int(s.sum()), int(np.dot(weights, s))


def _decoded_stats(doc_id: int, n_bytes: int, m: DecodedMedia) -> tuple:
    s = m.samples
    if s.size == 0:
        # a structurally valid container with an empty raster/data chunk
        # must not escape as a bare ValueError from min()/max()
        raise MediaDecodeError(f"zero-sample media for doc_id={doc_id}")
    n, total, checksum = _signal_stats(s)
    return (
        doc_id, m.media_type, n_bytes, m.width, m.height, m.sample_rate,
        n, total, int(s.min()), int(s.max()), checksum,
    )


def with_media_blob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialize the opaque binary column (here: utf-8 of the text —
    the stand-in payload; in production this is the raw image/audio)."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).cast("binary").alias("blob")
    )


def synth_decode_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real BMP/PPM/PNG/WAV decode per fixture row in ONE Arrow pass:
    DECODE_SCHEMA stats over the decoded pixel/sample values."""
    return _map_media(
        _media_rows(df, id_col),
        DECODE_SCHEMA,
        lambda row, blob, m: [_decoded_stats(int(row.doc_id), len(blob), m)],
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("feat_idx", LongType(), False),
        StructField("feature", LongType(), False),
    ]
)

N_FEATURES = 8


def media_features(m: DecodedMedia) -> list[int]:
    """8 integer-exact features over the DECODED samples (long-form
    friendly; a CLIP/CNN embedding call slots into the same batch shape
    with float features). Integer stats keep the cross-engine hash in
    exact arithmetic."""
    s = m.samples
    if s.size == 0:
        raise MediaDecodeError("zero-sample media")
    n, total, checksum = _signal_stats(s)
    return [
        n,
        total,
        int(s.min()),
        int(s.max()),
        checksum,  # order-weighted
        int(np.dot(s, s)),  # energy
        int(s[0]),
        int(s[-1]),
    ]


def synth_feature_extract(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature extraction per fixture row in ONE Arrow pass: decode →
    ``N_FEATURES`` scalar features in long form (doc_id, feat_idx,
    feature), so downstream aggregation/indexing shuffles carry
    fixed-width rows."""
    return _map_media(
        _media_rows(df, id_col),
        FEATURE_SCHEMA,
        lambda row, blob, m: [
            (row.doc_id, i, v) for i, v in enumerate(media_features(m))
        ],
    )


def frame_sample(df: DataFrame, every_k: int = 5) -> DataFrame:
    """Frame-sampling plumbing for video columns: derive the frame count
    from the payload metadata (STUB: 1 + n_bytes mod 60 — a real
    deployment reads the container header in the decode pass) and emit
    every ``every_k``-th frame index. Entirely JVM-side
    (sequence + explode): the expensive per-frame decode then runs ONLY
    on the sampled (doc_id, frame_idx) rows, which is the point of
    sampling before decoding at 100 TB."""
    n_frames = (F.length("blob").cast("long") % 60 + 1).alias("n_frames")
    return (
        df.select("doc_id", F.length("blob").cast("long").alias("n_bytes"), n_frames)
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))),
        )
        .select("doc_id", "n_frames", "frame_idx")
    )


# --------------------------------------------------- perceptual hashing
DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dhash", LongType(), False),
    ]
)

#: dHash grid — the classic 9×8 horizontal-gradient construction
_DHASH_GW, _DHASH_GH = 9, 8


def dhash64(m: DecodedMedia) -> int:
    """63-bit difference hash over a decoded RGB image: nearest-neighbor
    point-sample onto a 9×8 grid (x = gc·w//9, y = gr·h//8 — integer
    arithmetic any engine replays exactly; area-average resampling
    would bind the oracle to float resize kernels), integer luma
    299r+587g+114b per grid point (kept SCALED — no division, no
    rounding ambiguity), bit(gr,gc) = luma(gr,gc) < luma(gr,gc+1),
    packed row-major (bit index gr·8+gc). The single (7,7) bit — index
    63, the sign bit — is dropped so the hash stays a NON-NEGATIVE
    long in every engine (DuckDB raises on ``1::BIGINT << 63``; numpy
    wraps): 63 of the classic 64 gradient bits, sign-safe by
    construction. Gradient-sign bits make the hash invariant to global
    brightness shifts — the perceptual-dup property pixel md5 has none
    of."""
    if m.width <= 0 or m.height <= 0:
        raise MediaDecodeError("dhash needs a decoded image")
    rgb = m.samples.reshape(m.height, m.width, 3)
    lum = 299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]
    ys = (np.arange(_DHASH_GH, dtype=np.int64) * m.height) // _DHASH_GH
    xs = (np.arange(_DHASH_GW, dtype=np.int64) * m.width) // _DHASH_GW
    grid = lum[np.ix_(ys, xs)]
    bits = (grid[:, :-1] < grid[:, 1:]).astype(np.int64)
    idx = (
        np.arange(_DHASH_GH, dtype=np.int64)[:, None] * 8
        + np.arange(_DHASH_GW - 1, dtype=np.int64)[None, :]
    )
    weights = np.where(idx < 63, np.int64(1) << np.minimum(idx, 62), 0)
    return int((bits * weights).sum())


def media_dhash(df: DataFrame, id_col: str = "doc_id", media_id=None) -> DataFrame:
    """(doc_id, dhash long) per IMAGE row via the real synth→decode
    codec path (Arrow-batched, zero shuffle). ``media_id``: optional
    Column deriving the payload identity from the doc id (the gated
    query uses ``doc_id % 97`` so the fixture corpus contains genuine
    duplicate images); WAV rows (kind 2) are excluded — pHash over
    audio needs a spectral transform, out of scope."""
    return _map_media(
        _media_rows(df, id_col, media_id, kind="image"),
        DHASH_SCHEMA,
        lambda row, blob, m: [(row.doc_id, dhash64(m))],
    )


DHASH_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dhash", LongType(), False),
        StructField("feat_idx", LongType(), False),
        StructField("feature", LongType(), False),
    ]
)


def media_dhash_and_features(
    df: DataFrame, id_col: str = "doc_id", media_id=None
) -> DataFrame:
    """DECODE-ONCE fused kernel for the image-curation pipeline: one
    synth→BMP/PPM codec decode per row feeds BOTH the 63-bit dHash
    (dedup stage) and the 8 integer features (CLIP-align stage), long
    form (doc_id, dhash, feat_idx, feature) — chaining ``media_dhash``
    + ``synth_feature_extract`` would decode every image twice, and on
    real images the decode IS the pipeline's dominant cost. Single
    mapInPandas pass, zero shuffle; callers localCheckpoint the (tiny:
    32 B/row) output so the two consuming branches never replay the
    decode lineage. WAV rows (kind 2) are excluded like
    ``media_dhash``."""

    def rows(row, blob, m):
        dh = dhash64(m)
        return [(row.doc_id, dh, i, v) for i, v in enumerate(media_features(m))]

    return _map_media(
        _media_rows(df, id_col, media_id, kind="image"),
        DHASH_FEATURES_SCHEMA,
        rows,
    )


def dhash_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
    num_blocks: int = 4,
    block_member_cap: int | None = None,
) -> DataFrame:
    """Perceptual near-dup pairs from (doc_id, dhash): block-LSH
    candidates (the signature split into ``num_blocks`` 16-bit bands —
    a pair within Hamming ≤ num_blocks·k must agree exactly on some
    block for small k, the same pigeonhole as SimHash blocking), then
    exact Hamming via bit_count(xor) ≤ ``max_hamming``. All JVM bit
    arithmetic on longs; the only shuffle is the (block, bits)
    equi-join — never a cross join.

    ``block_member_cap``: the hot-bucket guard, same production
    mitigation as ``minhash_lsh_pairs``: m copies of one image (logo,
    placeholder thumbnail) put m members in every block bucket and
    m²/2 pairs through verification — buckets over the cap are dropped
    from candidate generation (template mass belongs to exact dedup).

    The incoming (doc_id, dhash) frame is materialized with an eager
    localCheckpoint BEFORE the self-join: without it the hash frame's
    lineage — in production the synth→decode→hash mapInPandas, by far
    the dominant cost on real images — executes once per join side
    (r7 executed plan: 4 MapInPandas nodes, 0 ReusedExchange). The
    hash frame is 16 B/row, so freezing it is ~free while the decode
    subtree runs exactly once. Same staged-artifact principle as the
    reference's decode-once file staging (``FileWriter.java:156-191``)
    and this repo's ``prefix_sum`` staging."""
    hashes = hashes.localCheckpoint(eager=True)
    if block_member_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("j", "bb")
    blocks = hashes.select(
        "doc_id",
        "dhash",
        F.explode(
            F.sequence(F.lit(0), F.lit(num_blocks - 1))
        ).alias("j"),
    ).withColumn(
        # SQL form: the Python shiftrightunsigned wrapper takes only a
        # literal shift amount, the expression itself takes a column
        "bb",
        F.expr("shiftrightunsigned(dhash, j * 16)").bitwiseAND(F.lit(0xFFFF)),
    )
    if block_member_cap is not None:
        blocks = (
            blocks.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= block_member_cap)
            .drop("_n")
        )
    left = blocks.select(
        F.col("j"), F.col("bb"),
        F.col("doc_id").alias("left_id"), F.col("dhash").alias("ldh"),
    )
    right = blocks.select(
        F.col("j").alias("rj"), F.col("bb").alias("rbb"),
        F.col("doc_id").alias("right_id"), F.col("dhash").alias("rdh"),
    )
    cand = (
        left.join(
            right,
            (left["j"] == right["rj"])
            & (left["bb"] == right["rbb"])
            & (F.col("left_id") < F.col("right_id")),
        )
        .select("left_id", "right_id", "ldh", "rdh")
        .dropDuplicates(["left_id", "right_id"])
    )
    ham = F.bit_count(F.col("ldh").bitwiseXOR(F.col("rdh")))
    return cand.filter(ham <= max_hamming).select(
        "left_id", "right_id", ham.cast("bigint").alias("hamming")
    )


VIDEO_DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("dhash", LongType(), False),
    ]
)


def video_frame_dhash(
    df: DataFrame,
    id_col: str = "doc_id",
    media_id=None,
    every_k: int = 2,
) -> DataFrame:
    """(doc_id, frame_idx, dhash) per SAMPLED video frame: frame count
    and sample stride are computed JVM-side (sequence+explode — the
    cheap row-multiplying step runs BEFORE any decode, so the expensive
    per-frame path only ever sees sampled frames), then ONE Arrow
    mapInPandas pass synthesizes + decodes each sampled frame through
    the real BMP/PNG codecs and dHashes it.

    Fixture spec (what the oracle replays closed-form): video identity
    ``mid`` (default: the doc id) has ``3 + mid % 6`` frames; sampled
    indexes are ``range(0, n_frames, every_k)``; frame image identity
    ``fid = 3·(mid·64 + frame_idx)`` — always ≡ 0 mod 3, i.e. an image
    (BMP or PNG) payload under ``synth_media_payload``'s kind rule, with
    the spec's per-fid dims and pixel series. In production the Arrow pass
    seeks the container to the sampled frame offsets instead (the
    sampling-before-decode shape is the point at 100 TB)."""
    n_frames = F.col("mid") % 6 + 3
    frames = (
        _media_rows(df, id_col, media_id)
        .withColumn(
            "frame_idx",
            F.explode(
                F.sequence(F.lit(0).cast("long"), (n_frames - 1).cast("long"),
                           F.lit(every_k).cast("long"))
            ),
        )
        .withColumn("fid", 3 * (F.col("mid") * 64 + F.col("frame_idx")))
    )
    return _map_media(
        frames.select("doc_id", "frame_idx", "fid"),
        VIDEO_DHASH_SCHEMA,
        lambda row, blob, m: [(row.doc_id, row.frame_idx, dhash64(m))],
        key="fid",
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 10,
    num_blocks: int = 4,
    block_member_cap: int | None = None,
) -> DataFrame:
    """Video near-dup pairs from (doc_id, frame_idx, dhash): ALIGNED
    frame matching — 16-bit block-LSH candidates restricted to the SAME
    frame index (re-encodes/watermarks of the same video keep frame
    alignment; offset clips are a different operator), exact Hamming ≤
    ``max_hamming`` per frame, then a MAJORITY rule: a video pair is a
    near-dup when ≥ half of the shorter video's sampled frames match →
    (left_id, right_id, matched_frames, min_sampled).

    The frame-hash frame is eagerly localCheckpoint'ed FIRST — it feeds
    the block join (twice), and the per-video sampled counts, so the
    per-frame decode subtree must execute exactly once (the r7
    multimodal materialization lesson, VERDICT r7 #1, applied from the
    start). All joins are equi-joins on (frame_idx, block, bits) —
    frame alignment makes the join key stronger than image LSH — but
    NOT degenerate-block-proof: smooth gradients make whole 16-bit
    blocks collapse to 0x0000/0xFFFF across unrelated videos (measured
    at 50k synth videos: one (frame, j, 0xFFFF) bucket held 10k
    members; 280M candidate pairs total; 10× scale exponent 1.58).
    ``block_member_cap`` is the same candidate-generation guard as the
    image/minhash caps: (frame_idx, j, bb) buckets above the cap are
    dropped from candidate generation — a true near-dup still meets in
    a NON-degenerate block (agreement on a degenerate block is weak
    evidence anyway), and the probe re-run with cap=256 restores a
    ~linear exponent. Uncapped stays the oracle twin."""
    frame_hashes = frame_hashes.localCheckpoint(eager=True)
    sampled = frame_hashes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    blocks = frame_hashes.select(
        "doc_id",
        "frame_idx",
        "dhash",
        F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("j"),
    ).withColumn(
        "bb",
        F.expr("shiftrightunsigned(dhash, j * 16)").bitwiseAND(F.lit(0xFFFF)),
    )
    if block_member_cap is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("frame_idx", "j", "bb")
        blocks = (
            blocks.withColumn("_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("_n") <= block_member_cap)
            .drop("_n")
        )
    left = blocks.select(
        "frame_idx", "j", "bb",
        F.col("doc_id").alias("left_id"), F.col("dhash").alias("ldh"),
    )
    right = blocks.select(
        F.col("frame_idx").alias("rf"), F.col("j").alias("rj"),
        F.col("bb").alias("rbb"),
        F.col("doc_id").alias("right_id"), F.col("dhash").alias("rdh"),
    )
    ham = F.bit_count(F.col("ldh").bitwiseXOR(F.col("rdh")))
    matched = (
        left.join(
            right,
            (left["frame_idx"] == right["rf"])
            & (left["j"] == right["rj"])
            & (left["bb"] == right["rbb"])
            & (F.col("left_id") < F.col("right_id")),
        )
        .select("left_id", "right_id", "frame_idx", "ldh", "rdh")
        .dropDuplicates(["left_id", "right_id", "frame_idx"])
        .filter(ham <= max_hamming)
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("matched_frames"))
    )
    ls = sampled.select(
        F.col("doc_id").alias("left_id"), F.col("n_sampled").alias("ls")
    )
    rs = sampled.select(
        F.col("doc_id").alias("right_id"), F.col("n_sampled").alias("rs")
    )
    return (
        matched.join(ls, "left_id")
        .join(rs, "right_id")
        .withColumn("min_sampled", F.least("ls", "rs"))
        .filter(F.col("matched_frames") * 2 >= F.col("min_sampled"))
        .select(
            "left_id",
            "right_id",
            F.col("matched_frames").cast("bigint").alias("matched_frames"),
            F.col("min_sampled").cast("bigint").alias("min_sampled"),
        )
    )


#: audio fingerprint frames — 32 energy frames → 31 delta-sign bits
_AFP_FRAMES = 32


def audio_fingerprint(m: DecodedMedia) -> int:
    """31-bit perceptual audio fingerprint over decoded PCM samples:
    sample i maps to frame f = (i·32)//n (the per-sample integer rule
    — engine-replayable as one GROUP BY, unlike floor-boundary frame
    ranges which assign edge samples differently), energy E(f) = Σ s²
    over the frame (exact int64; even hour-long 16-bit audio keeps
    per-frame sums far under 2⁶³), bit f = E(f) < E(f+1). Delta-sign
    energy bits are the no-FFT analog of the classic Haitsma-Kalker
    fingerprint's band-energy differences — robust to global gain and
    one vectorized pass. 31 bits keeps the value trivially sign-safe
    in every engine (the dHash lesson, bit 63)."""
    s = m.samples
    if s.size < _AFP_FRAMES:
        raise MediaDecodeError("audio too short to fingerprint")
    n = s.size
    frames = (np.arange(n, dtype=np.int64) * _AFP_FRAMES) // n
    energies = np.zeros(_AFP_FRAMES, dtype=np.int64)
    np.add.at(energies, frames, s * s)
    bits = (energies[:-1] < energies[1:]).astype(np.int64)
    return int((bits << np.arange(_AFP_FRAMES - 1, dtype=np.int64)).sum())


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("afp", LongType(), False),
    ]
)


def media_audio_fingerprint(
    df: DataFrame, id_col: str = "doc_id", media_id=None
) -> DataFrame:
    """(doc_id, afp long) per AUDIO row via the real synth→WAV codec
    decode path (Arrow-batched, zero shuffle) — the audio sibling of
    ``media_dhash`` (images); together they cover both fixture
    modalities. Non-audio rows (kind ≠ 2) are excluded."""
    return _map_media(
        _media_rows(df, id_col, media_id, kind="audio"),
        AUDIO_FP_SCHEMA,
        lambda row, blob, m: [(row.doc_id, audio_fingerprint(m))],
    )


def audio_neardup_pairs(
    fps: DataFrame, max_hamming: int = 4, num_blocks: int = 2
) -> DataFrame:
    """Audio near-dup pairs from (doc_id, afp): 16-bit block-LSH
    candidates then exact Hamming via bit_count(xor) ≤ max_hamming —
    the same pigeonhole shape as ``dhash_neardup_pairs`` (a pair
    within Hamming ≤ num_blocks−1 agrees exactly on some block; the
    default tolerates max_hamming=4 with recall loss only when the
    flips straddle both blocks). The (doc_id, afp) frame is eagerly
    localCheckpoint'ed before the self-join so the WAV decode subtree
    runs once, not once per join side — see ``dhash_neardup_pairs``."""
    fps = fps.localCheckpoint(eager=True)
    blocks = fps.select(
        "doc_id",
        "afp",
        F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("j"),
    ).withColumn(
        "bb",
        F.expr("shiftrightunsigned(afp, j * 16)").bitwiseAND(F.lit(0xFFFF)),
    )
    left = blocks.select(
        F.col("j"), F.col("bb"),
        F.col("doc_id").alias("left_id"), F.col("afp").alias("lfp"),
    )
    right = blocks.select(
        F.col("j").alias("rj"), F.col("bb").alias("rbb"),
        F.col("doc_id").alias("right_id"), F.col("afp").alias("rfp"),
    )
    cand = (
        left.join(
            right,
            (left["j"] == right["rj"])
            & (left["bb"] == right["rbb"])
            & (F.col("left_id") < F.col("right_id")),
        )
        .select("left_id", "right_id", "lfp", "rfp")
        .dropDuplicates(["left_id", "right_id"])
    )
    ham = F.bit_count(F.col("lfp").bitwiseXOR(F.col("rfp")))
    return cand.filter(ham <= max_hamming).select(
        "left_id", "right_id", ham.cast("bigint").alias("hamming")
    )


# ----------------------------------------------------- image-text alignment

#: projection-matrix formula for the pseudo image embedding:
#: P(f, d) = ((f·31 + d·17) mod 7) − 3 ∈ [−3, 3] — a fixed deterministic
#: stand-in for a trained vision tower's final projection. Shared
#: verbatim with the gate oracle.
CLIP_PROJ_MULT_F = 31
CLIP_PROJ_MULT_D = 17
CLIP_PROJ_MOD = 7


def _clip_proj(f: int, d: int) -> int:
    return (f * CLIP_PROJ_MULT_F + d * CLIP_PROJ_MULT_D) % CLIP_PROJ_MOD - 3


def clip_image_vectors(
    features_long: DataFrame, dim: int = 64, n_features: int = N_FEATURES
) -> DataFrame:
    """(doc_id, _img array<long>): decoded-media features projected
    into the text-embedding space — the shared projection stage of
    ``clip_align_scores`` (per-pair alignment) and the cross-modal
    retrieval gate (text query → image top-k). The image vector
    assembles in EXACT 64-bit integer arithmetic: features wide-pivot
    in one fixed-width aggregate, then dim × n_features literal
    multiply-adds in a single codegen'd projection — zero Python, no
    per-dim shuffle. The projection is built as ONE SQL expression
    string (single parse) instead of Python Column algebra: the 512+
    Column constructions cost a Py4J JVM round trip EACH — measured
    3.7 s of driver time per plan build at dim=64."""
    wide = features_long.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("feat_idx") == i, F.col("feature"))).alias(
                f"_f{i}"
            )
            for i in range(n_features)
        ]
    )
    proj_terms = ", ".join(
        "(" + " + ".join(
            f"_f{f} * {_clip_proj(f, d)}" for f in range(n_features)
        ) + ")"
        for d in range(dim)
    )
    return wide.withColumn("_img", F.expr(f"array({proj_terms})"))


def clip_align_scores(
    features_long: DataFrame,
    embeddings: DataFrame,
    dim: int = 64,
    n_features: int = N_FEATURES,
    threshold: float = 0.0,
) -> DataFrame:
    """CLIP-score-style image-text ALIGNMENT filter (LAION-style pair
    curation): the decoded-media features (long form, from
    ``synth_feature_extract``) project into the text-embedding space via a
    fixed integer matrix (stand-in for the trained vision projection —
    swap ``_clip_proj`` for a broadcast weight table in production),
    and each document scores cosine(text_embedding, image_embedding);
    pairs below ``threshold`` are flagged for drop.

    Exactness/scale shape: the image vector assembles in EXACT 64-bit
    integer arithmetic (features wide-pivoted in one fixed-width
    aggregate, then dim·n_features literal multiply-adds in a single
    codegen'd projection — zero Python, no per-dim shuffle); its norm²
    stays integer; only the final dot/normalize runs in double, with
    the dot product folded IN ARRAY ORDER on both engines (zip_with +
    ordered fold here, list_dot_product in the oracle) so the float
    summation order can't drift. One equi-join with the embedding
    table on the pair id; at 100 TB both sides are id-partitioned and
    the join co-locates."""
    wide = clip_image_vectors(features_long, dim=dim, n_features=n_features)
    # norm² folds in DOUBLE and in ARRAY ORDER (img_v² overflows long
    # for WAV energy features); the oracle mirrors the exact fold order
    # with list_dot_product(iv, iv). 0.0D: the SQL double literal —
    # bare 0.0 would parse as DECIMAL and change the fold type.
    inorm2 = F.expr(
        "aggregate(cast(_img as array<double>), 0.0D, (a, x) -> a + x * x)"
    )
    emb = embeddings.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("_emb"),
    )
    j = wide.join(emb, "doc_id")
    dot = F.expr(
        "aggregate(zip_with(_emb, cast(_img as array<double>),"
        " (a, b) -> a * b), 0.0D, (a, x) -> a + x)"
    )
    enorm2 = F.expr("aggregate(_emb, 0.0D, (a, x) -> a + x * x)")
    score = dot / (F.sqrt(enorm2) * F.sqrt(inorm2))
    return j.select(
        "doc_id",
        F.round(score, 6).alias("align_score"),
        (score >= threshold).alias("keep"),
    )


# ------------------------------------------------------------------ resize

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("out_w", LongType(), False),
        StructField("out_h", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sample_sum", LongType(), False),
        StructField("checksum", LongType(), False),
    ]
)


def resize_nearest(m: DecodedMedia, target_w: int, target_h: int) -> np.ndarray:
    """REAL nearest-neighbor resize over the decoded raster: output
    pixel (r, c) samples input pixel (r·h_in // h_out, c·w_in // w_out)
    — all-integer index math, no float kernels, so the result is
    bit-exact and closed-form replayable by the oracle. Vectorized numpy
    fancy-indexing (two 1-D index arrays, one gather); channels stay
    interleaved RGB row-major, the same layout the codecs emit."""
    if m.width <= 0 or m.height <= 0:
        raise MediaDecodeError("resize needs a raster (image media)")
    s = np.asarray(m.samples, dtype=np.int64).reshape(m.height, m.width, 3)
    rows = (np.arange(target_h, dtype=np.int64) * m.height) // target_h
    cols = (np.arange(target_w, dtype=np.int64) * m.width) // target_w
    return s[rows][:, cols].reshape(-1)


def synth_resize_stats(
    df: DataFrame,
    target_w: int = 8,
    target_h: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fused fixture path for resize: images only (the WAV kind is
    filtered JVM-side BEFORE the Arrow pass — the non-negotiable
    cheap-filter-before-expensive-decode ordering), then ONE
    mapInPandas synthesizes + decodes + resizes and emits integer
    stats over the RESIZED raster (position-weighted checksum asserts
    pixel ORDER, so a transposed/flipped gather breaks the oracle)."""
    return _raster_stats(df, id_col, resize_nearest, target_w, target_h)


def _raster_stats(
    df: DataFrame,
    id_col: str,
    kernel: Callable[[DecodedMedia, int, int], np.ndarray],
    out_w: int,
    out_h: int,
) -> DataFrame:
    """RESIZE_SCHEMA rows of ``kernel(decoded, out_w, out_h)`` over the
    fixture's images — the shared body of resize, bilinear resize and
    center crop."""
    return _map_media(
        _media_rows(df, id_col, kind="image"),
        RESIZE_SCHEMA,
        lambda row, blob, m: [
            (row.doc_id, out_w, out_h, *_signal_stats(kernel(m, out_w, out_h)))
        ],
    )


RESAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("rate_in", LongType(), False),
        StructField("rate_out", LongType(), False),
        StructField("n_out", LongType(), False),
        StructField("sample_sum", LongType(), False),
        StructField("checksum", LongType(), False),
    ]
)


def resample_nearest(m: DecodedMedia, target_rate: int) -> np.ndarray:
    """Audio rate conversion by nearest-sample gather — the WAV
    sibling of ``resize_nearest`` (same all-integer index map, same
    closed-form-oracle property; a production pipeline swaps in a
    windowed-sinc kernel inside the same Arrow batch shape):
    n_out = n_in·target // rate_in, out[j] = in[j·n_in // n_out]."""
    if m.sample_rate <= 0:
        raise MediaDecodeError("resample needs audio media")
    n_in = int(m.samples.size)
    n_out = (n_in * target_rate) // m.sample_rate
    if n_out <= 0:
        raise MediaDecodeError("resample target too low for clip length")
    j = np.arange(n_out, dtype=np.int64)
    return np.asarray(m.samples, dtype=np.int64)[(j * n_in) // n_out]


def synth_audio_resample_stats(
    df: DataFrame, target_rate: int = 4000, id_col: str = "doc_id"
) -> DataFrame:
    """Fused fixture path for audio resampling: WAV rows only (image
    kinds filter JVM-side before the Arrow pass), one mapInPandas
    decodes + gathers, integer stats over the RESAMPLED signal with a
    position-weighted checksum (asserts sample order)."""
    return _resample_stats(df, id_col, resample_nearest, target_rate, RESAMPLE_SCHEMA)


def _resample_stats(
    df: DataFrame,
    id_col: str,
    kernel: Callable[[DecodedMedia, int], np.ndarray],
    target_rate: int,
    schema: StructType,
) -> DataFrame:
    """(doc_id, rate_in, rate_out, size, sum, checksum) rows of
    ``kernel(decoded, target_rate)`` over the fixture's WAV payloads —
    the shared body of nearest and windowed-sinc resampling."""
    return _map_media(
        _media_rows(df, id_col, kind="audio"),
        schema,
        lambda row, blob, m: [
            (row.doc_id, m.sample_rate, target_rate,
             *_signal_stats(kernel(m, target_rate)))
        ],
    )


# ------------------------------------------- production kernels (r9)
#
# VERDICT r8 #8: the nearest-neighbor resize / gather resample promised
# "a production pipeline swaps in bilinear / windowed-sinc in the same
# Arrow batch shape" — these are those kernels, with the SAME
# decode-once single-MapInPandas plan and the same exact-oracle
# discipline. Exactness strategy: all interpolation runs in FIXED-POINT
# integer arithmetic (bilinear: Q8 phase weights, Q16 accumulations;
# sinc: a Q12 integer tap table generated ONCE in Python and embedded
# as literals in both the kernel and the oracle SQL), so no float
# enters either engine and sums are order-independent.


def resize_bilinear(m: DecodedMedia, target_w: int, target_h: int) -> np.ndarray:
    """Bilinear resize over the decoded raster, align-corners
    convention, Q8 fixed-point weights: source coordinate of output
    row r is ``fy = r·(h_in−1)·256 // (h_out−1)`` with integer part
    y0 = fy >> 8 and weight wy = fy & 255 (same for columns), and the
    output pixel is the exact integer

        (((256−wy)·((256−wx)·p00 + wx·p01)
          + wy·((256−wx)·p10 + wx·p11)) >> 16)

    — non-negative throughout, so floor division is truncation in
    every engine and the oracle replays it closed-form. Vectorized:
    two 1-D phase arrays, four gathers, one weighted sum."""
    if m.width <= 0 or m.height <= 0:
        raise MediaDecodeError("resize needs a raster (image media)")
    s = np.asarray(m.samples, dtype=np.int64).reshape(m.height, m.width, 3)
    th, tw = int(target_h), int(target_w)
    fy = (
        (np.arange(th, dtype=np.int64) * (m.height - 1) * 256) // (th - 1)
        if th > 1
        else np.zeros(th, dtype=np.int64)
    )
    fx = (
        (np.arange(tw, dtype=np.int64) * (m.width - 1) * 256) // (tw - 1)
        if tw > 1
        else np.zeros(tw, dtype=np.int64)
    )
    y0, wy = fy >> 8, fy & 255
    x0, wx = fx >> 8, fx & 255
    y1 = np.minimum(y0 + 1, m.height - 1)
    x1 = np.minimum(x0 + 1, m.width - 1)
    p00 = s[y0][:, x0]
    p01 = s[y0][:, x1]
    p10 = s[y1][:, x0]
    p11 = s[y1][:, x1]
    wyc = wy[:, None, None]
    wxc = wx[None, :, None]
    out = (
        (256 - wyc) * ((256 - wxc) * p00 + wxc * p01)
        + wyc * ((256 - wxc) * p10 + wxc * p11)
    ) >> 16
    return out.reshape(-1)


def synth_resize_bilinear_stats(
    df: DataFrame,
    target_w: int = 8,
    target_h: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fused fixture path for bilinear resize — identical shape to
    ``synth_resize_stats`` (JVM-side kind filter BEFORE the Arrow
    pass, ONE mapInPandas decode+resize, position-weighted checksum
    asserting pixel order)."""
    return _raster_stats(df, id_col, resize_bilinear, target_w, target_h)


#: polyphase windowed-sinc geometry: 32 phases × 8 taps, Q12
#: coefficients. Generated ONCE here (driver-side, plain math.sin) and
#: embedded as integer literals in BOTH the kernel and the oracle SQL —
#: no engine evaluates trig, so there is nothing to drift.
SINC_PHASES = 32
SINC_TAPS = 8
SINC_Q = 4096


def _make_sinc_table() -> list[list[int]]:
    import math

    tbl = []
    for p in range(SINC_PHASES):
        frac = p / SINC_PHASES
        row = []
        for t in range(SINC_TAPS):
            x = (t - 3) - frac
            sinc = 1.0 if x == 0 else math.sin(math.pi * x) / (math.pi * x)
            win = 0.5 + 0.5 * math.cos(math.pi * x / 4) if abs(x) < 4 else 0.0
            row.append(round(SINC_Q * sinc * win))
        tbl.append(row)
    return tbl


SINC_TABLE: list[list[int]] = _make_sinc_table()

SINC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("rate_in", LongType(), False),
        StructField("rate_out", LongType(), False),
        StructField("n_out", LongType(), False),
        StructField("q12_sum", LongType(), False),
        StructField("q12_checksum", LongType(), False),
    ]
)


def resample_sinc(m: DecodedMedia, target_rate: int) -> np.ndarray:
    """Polyphase windowed-sinc rate conversion (the production sibling
    of ``resample_nearest``): output sample j sits at rational source
    position ``j·n_in / n_out``; its fractional phase quantizes to one
    of 32 Q12 tap rows and the output is the exact integer

        out_q[j] = Σ_t  SINC_TABLE[ph][t] · in[clamp(base + t − 3)]

    kept RAW in Q12 (no final shift: DuckDB's ``//`` truncates toward
    zero on negatives while numpy floors, so a signed de-scale is the
    one step that could diverge — callers de-scale at the edge of the
    exact zone)."""
    if m.sample_rate <= 0:
        raise MediaDecodeError("resample needs audio media")
    s = np.asarray(m.samples, dtype=np.int64)
    n_in = int(s.size)
    n_out = (n_in * target_rate) // m.sample_rate
    if n_out <= 0:
        raise MediaDecodeError("resample target too low for clip length")
    j = np.arange(n_out, dtype=np.int64)
    num = j * n_in
    base = num // n_out
    ph = (num % n_out) * SINC_PHASES // n_out
    t = np.arange(SINC_TAPS, dtype=np.int64)
    idx = np.clip(base[:, None] + t[None, :] - 3, 0, n_in - 1)
    coeffs = np.asarray(SINC_TABLE, dtype=np.int64)[ph]
    return (coeffs * s[idx]).sum(axis=1)


def synth_audio_resample_sinc_stats(
    df: DataFrame, target_rate: int = 4000, id_col: str = "doc_id"
) -> DataFrame:
    """Fused fixture path for windowed-sinc resampling — identical
    shape to ``synth_audio_resample_stats`` (JVM kind filter, one
    mapInPandas, position-weighted checksum over the Q12 output)."""
    return _resample_stats(df, id_col, resample_sinc, target_rate, SINC_SCHEMA)


def crop_center(m: DecodedMedia, crop_w: int, crop_h: int) -> np.ndarray:
    """REAL center crop over the decoded raster — the augmentation
    sibling of ``resize_nearest`` (same all-integer geometry, same
    closed-form-oracle property): top-left corner ((h−ch)//2,
    (w−cw)//2), interleaved-RGB flattening preserved. Raises when the
    crop exceeds the raster (callers pick crop dims ≤ the fixture's
    minimum image size, as any production pipeline validates against
    its min resolution)."""
    if m.width <= 0 or m.height <= 0:
        raise MediaDecodeError("crop needs a raster (image media)")
    if m.width < crop_w or m.height < crop_h:
        raise MediaDecodeError(
            f"crop {crop_w}x{crop_h} exceeds raster {m.width}x{m.height}"
        )
    s = np.asarray(m.samples, dtype=np.int64).reshape(m.height, m.width, 3)
    y0 = (m.height - crop_h) // 2
    x0 = (m.width - crop_w) // 2
    return s[y0:y0 + crop_h, x0:x0 + crop_w, :].reshape(-1)


def synth_crop_stats(
    df: DataFrame,
    crop_w: int = 4,
    crop_h: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fused fixture path for center crop (plan shape identical to
    ``synth_resize_stats``: WAV rows filtered JVM-side before the
    Arrow pass, ONE mapInPandas decodes + crops + emits integer stats
    with a position-weighted checksum so a mis-centered, transposed or
    channel-swapped crop breaks the oracle)."""
    return _raster_stats(df, id_col, crop_center, crop_w, crop_h)
