"""Multimodal queries: binary payload plumbing through mapInPandas.

The oracle checks the payload metadata (byte length + content hash) —
DuckDB can reproduce those exactly; the decoded features (byte stats)
ride through the same mapInPandas pass and are covered by unit tests.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..multimodal.codec import attach_binary_payload, extract_features
from ..session import checkpoint
from .registry import query

_Q35_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
"""


@query("q35_multimodal_metadata", oracle=_Q35_ORACLE, tags=("multimodal", "EXT"))
def q35_multimodal_metadata(spark, sf_dir):
    """Binary media column metadata, produced through the full
    mapInPandas feature-extraction path (Arrow batches, stub decoder)
    and projected to the engine-neutral columns."""
    media = attach_binary_payload(load(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select("doc_id", "n_bytes", "content_hash")


_Q36_ORACLE = """
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_bytes,
       SUM(ascii(substring(d.text, u.i, 1))) / CAST(length(d.text) AS DOUBLE) AS mean_byte,
       CAST(MAX(ascii(substring(d.text, u.i, 1))) AS BIGINT) AS max_byte
FROM documents d,
     UNNEST(generate_series(1, length(d.text))) AS u(i)
GROUP BY d.doc_id, length(d.text)
"""


@query("q36_multimodal_features", oracle=_Q36_ORACLE, tags=("multimodal", "EXT"))
def q36_multimodal_features(spark, sf_dir):
    """Full decoded feature set through the mapInPandas path —
    hash-verified since round 6: the byte stats are recomputed by the
    oracle from the source text bytes (ASCII fixture: chars == bytes),
    so the Arrow batch iteration and per-payload feature math are
    value-checked, not just row-counted."""
    media = attach_binary_payload(load(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "doc_id", "n_bytes", "mean_byte", F.col("max_byte").cast("long").alias("max_byte")
    )


_Q86_ORACLE = """
SELECT doc_id,
       CAST((i - 1) // 256 AS INT) AS frame_idx,
       CAST(octet_length(encode(substring(text, i, 16))) AS BIGINT) AS frame_bytes,
       md5(substring(text, i, 16)) AS frame_hash
FROM documents,
     UNNEST(generate_series(1, GREATEST(length(text), 1), 256)) AS u(i)
"""


@query("q86_multimodal_frames", oracle=_Q86_ORACLE, tags=("multimodal", "udtf", "EXT"))
def q86_multimodal_frames(spark, sf_dir):
    """Frame-sampling expansion: one row per sampled 16-byte 'frame'
    every 256 payload bytes, extracted inside mapInPandas (the exact
    plumbing an ffmpeg keyframe sampler plugs into). The oracle
    reproduces the fake frames byte-for-byte from the text payloads
    (ASCII fixture: chars == bytes), so the whole Python expansion
    path is hash-verified, not just row-counted."""
    from ..multimodal.codec import sample_frame_table

    media = attach_binary_payload(load(spark, sf_dir, "documents"))
    return sample_frame_table(media, every_n=256, frame_len=16)


# --------------------------------------------------------------------------
# q128/q129: REAL decode of uncompressed formats. The payloads are
# genuine BMP/WAV files built executor-side from the text bytes, so
# the DuckDB oracle can recompute every decoded feature from the
# source table (ASCII fixture: chars == bytes, the q86 contract) —
# the whole encode → header-parse → pixel/sample-recovery → feature
# path is hash-verified, not just row-counted.
# --------------------------------------------------------------------------

_Q128_ORACLE = """
SELECT d.doc_id,
       8 AS width, 8 AS height,
       SUM(ascii(substring(d.text, u.i, 1))) / 192.0 AS mean_px,
       CAST(MAX(ascii(substring(d.text, u.i, 1))) AS BIGINT) AS max_px
FROM documents d,
     UNNEST(generate_series(1, LEAST(length(d.text), 192))) AS u(i)
GROUP BY d.doc_id
"""


@query("q128_bmp_decode", oracle=_Q128_ORACLE, tags=("multimodal", "EXT"))
def q128_bmp_decode(spark, sf_dir):
    """Real image decode: build an 8×8 24-bit BMP per document (pixel
    bytes = first 192 text bytes, zero-padded), parse the header and
    bottom-up padded rows back (multimodal/codec.py decode_bmp24), and
    reduce to per-image features. Zero-pad bytes count toward mean_px
    (sum unchanged, fixed /192 denominator) and never win max_px —
    which is how the oracle reproduces them without modeling padding."""
    from ..multimodal.codec import attach_bmp_payload, decode_bmp_features

    media = attach_bmp_payload(load(spark, sf_dir, "documents"))
    return decode_bmp_features(media)


_Q129_ORACLE = """
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_samples,
       16000 AS sample_rate,
       CAST(MAX(ABS((ascii(substring(d.text, u.i, 1)) - 128) * 256)) AS BIGINT) AS peak,
       SUM((ascii(substring(d.text, u.i, 1)) - 128) * 256) / CAST(length(d.text) AS DOUBLE) AS mean_amp
FROM documents d,
     UNNEST(generate_series(1, length(d.text))) AS u(i)
GROUP BY d.doc_id, length(d.text)
"""


@query("q129_wav_decode", oracle=_Q129_ORACLE, tags=("multimodal", "EXT"))
def q129_wav_decode(spark, sf_dir):
    """Real audio decode: build a 16-bit PCM mono WAV per document
    (sample_i = (byte_i - 128) * 256), walk the RIFF chunks back
    (multimodal/codec.py decode_wav16), unpack the samples, and reduce
    to per-clip features (count, rate, peak, mean amplitude)."""
    from ..multimodal.codec import attach_wav_payload, decode_wav_features

    media = attach_wav_payload(load(spark, sf_dir, "documents"))
    return decode_wav_features(media)


# --------------------------------------------------------------------------
# q179: energy-based activity segmentation over the real WAV decode
# path (the VAD / silence-trimming shape of an audio training
# pipeline). The oracle recomputes every frame from the source bytes:
# frame f covers chars [f*16+1, f*16+16], activity is the exact
# integer test sum(|sample|) >= TH * frame_len, and segments are
# gaps-and-islands over active frame indexes.
# --------------------------------------------------------------------------

_Q179_ORACLE = """
WITH samp AS (
  SELECT d.doc_id,
         CAST((u.i - 1) // 16 AS BIGINT) AS frame,
         ABS((ascii(substring(d.text, u.i, 1)) - 128) * 256) AS amp
  FROM documents d, UNNEST(generate_series(1, length(d.text))) AS u(i)
),
fr AS (
  SELECT doc_id, frame, SUM(amp) AS sum_amp, COUNT(*) AS n
  FROM samp GROUP BY doc_id, frame
),
af AS (
  SELECT doc_id, frame,
         CASE WHEN sum_amp >= 10240 * n THEN 1 ELSE 0 END AS active
  FROM fr
),
act AS (
  SELECT doc_id, frame,
         CASE WHEN lag(frame) OVER (PARTITION BY doc_id ORDER BY frame) IS NULL
                OR frame - lag(frame) OVER (PARTITION BY doc_id ORDER BY frame) > 1
              THEN 1 ELSE 0 END AS new_seg
  FROM af WHERE active = 1
),
seg AS (
  SELECT doc_id, frame,
         SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY frame
                            ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM act
),
seglen AS (
  SELECT doc_id, seg_id, COUNT(*) AS len FROM seg GROUP BY doc_id, seg_id
),
per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(len) AS BIGINT) AS n_active,
         CAST(MAX(len) AS BIGINT) AS longest_segment
  FROM seglen GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames FROM fr GROUP BY doc_id)
SELECT t.doc_id, t.n_frames,
       COALESCE(p.n_active, 0) AS n_active,
       COALESCE(p.n_segments, 0) AS n_segments,
       COALESCE(p.longest_segment, 0) AS longest_segment
FROM tot t LEFT JOIN per p ON t.doc_id = p.doc_id
"""


@query("q179_wav_activity_segments", oracle=_Q179_ORACLE, tags=("multimodal", "EXT"))
def q179_wav_activity_segments(spark, sf_dir):
    """Activity (VAD-style) segmentation through the REAL audio path:
    encode 16-bit PCM WAV per doc, walk the RIFF chunks back, frame at
    16 samples, integer energy test, island-merge active runs. The
    whole decode+segment pass is one Arrow-batched mapInPandas with
    per-clip state only; the oracle independently reconstructs every
    frame from the source bytes."""
    from ..multimodal.codec import attach_wav_payload, segment_wav_activity

    media = attach_wav_payload(load(spark, sf_dir, "documents"))
    return segment_wav_activity(media)


# --------------------------------------------------------------------------
# q187/q188: perceptual image dedup over the REAL BMP decode path.
# q187 computes the 64-bit average-hash (aHash) per image as 4x16-bit
# bands — exact integer math, so the oracle rebuilds every bit from
# the source bytes. q188 finds near-duplicate IMAGES: identical-hash
# groups collapse first (one linear groupBy — that's where the mass
# that grows with the corpus goes), then a banded pigeonhole join
# (Hamming <= 3 over 4 bands => at least one band equal, the
# operators/dedup.py simhash_near_pairs principle) runs over the
# distinct-hash representatives only.
# --------------------------------------------------------------------------

_AHASH_HAM_MAX = 3  # pigeonhole-sound with 4 bands

# Shared fingerprint CTE: gray_i = byte(3i+1)+byte(3i+2)+byte(3i+3) of
# the text (zero-padded past the end, the attach_bmp_payload contract),
# bit_i = gray_i*64 > total, bands = 16-bit little slices.
_AHASH_CTE = """
px AS (
  SELECT d.doc_id, u.i AS pix,
         (CASE WHEN 3*u.i+1 <= length(d.text) THEN ascii(substring(d.text, 3*u.i+1, 1)) ELSE 0 END
        + CASE WHEN 3*u.i+2 <= length(d.text) THEN ascii(substring(d.text, 3*u.i+2, 1)) ELSE 0 END
        + CASE WHEN 3*u.i+3 <= length(d.text) THEN ascii(substring(d.text, 3*u.i+3, 1)) ELSE 0 END) AS gray
  FROM documents d, UNNEST(generate_series(0, 63)) AS u(i)
),
tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
bits AS (
  SELECT px.doc_id, px.pix,
         CASE WHEN px.gray * 64 > t.total THEN 1 ELSE 0 END AS bit
  FROM px JOIN tot t USING (doc_id)
),
f AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN pix//16=0 THEN bit << (pix%16) ELSE 0 END) AS INT) AS b0,
    CAST(SUM(CASE WHEN pix//16=1 THEN bit << (pix%16) ELSE 0 END) AS INT) AS b1,
    CAST(SUM(CASE WHEN pix//16=2 THEN bit << (pix%16) ELSE 0 END) AS INT) AS b2,
    CAST(SUM(CASE WHEN pix//16=3 THEN bit << (pix%16) ELSE 0 END) AS INT) AS b3,
    CAST(SUM(bit) AS INT) AS ones
  FROM bits GROUP BY doc_id
)
"""

_Q187_ORACLE = f"""
WITH {_AHASH_CTE}
SELECT doc_id, b0, b1, b2, b3, ones FROM f
"""


@query("q187_image_ahash", oracle=_Q187_ORACLE, tags=("multimodal", "dedup", "EXT"))
def q187_image_ahash(spark, sf_dir):
    """Perceptual average-hash per image through the REAL decode path:
    encode an 8x8 24-bit BMP per doc, parse header + bottom-up rows
    back, gray = B+G+R per pixel, bit = gray strictly above the image
    mean (exact integer compare: gray*64 > total), packed into four
    16-bit bands. One Arrow-batched mapInPandas, per-image state only;
    the oracle rebuilds all 64 bits from the source bytes."""
    from ..multimodal.codec import ahash_bmp, attach_bmp_payload

    media = attach_bmp_payload(load(spark, sf_dir, "documents"))
    return ahash_bmp(media)


_Q188_ORACLE = f"""
WITH {_AHASH_CTE},
reps AS (
  SELECT b0, b1, b2, b3, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM f GROUP BY b0, b1, b2, b3
)
SELECT a.rep AS rep_a, b.rep AS rep_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
         AS hamming,
       a.n_members AS n_a, b.n_members AS n_b
FROM reps a JOIN reps b ON a.rep < b.rep
  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= {_AHASH_HAM_MAX}
"""


@query("q188_image_near_dup", oracle=_Q188_ORACLE, tags=("multimodal", "dedup", "EXT"))
def q188_image_near_dup(spark, sf_dir):
    """Near-duplicate image pairs at Hamming <= {_AHASH_HAM_MAX} over
    the aHash, in two stages shaped for scale:

    1. Collapse identical hashes with one hash-groupBy (min doc_id as
       representative + member count). Exact-duplicate mass — the part
       that grows linearly with a real corpus (re-crawls, mirrors) —
       never reaches the pair join; it costs one combinable aggregate.
    2. Banded pigeonhole join over the DISTINCT-hash representatives:
       Hamming <= 3 across 64 bits split into 4 bands forces >= 1 full
       band to match, so candidates come from band-equality blocks,
       never all-pairs. Residual block fan-out is bounded by the
       distinct-hash density per 16-bit band (and a df-style band cap
       — operators/dedup.py MAX_SHINGLE_DF discipline — is the dial if
       a real corpus saturates a band).

    Distinct (rep_a, rep_b) before the Hamming filter dedupes pairs
    that share several bands. Member counts ride along so downstream
    keep-best knows each pair's true weight."""
    fp = _ahash_fingerprints(spark, sf_dir)
    return _ahash_rep_pairs(_ahash_reps(fp))


def _ahash_fingerprints(spark, sf_dir):
    """The q187 fingerprint frame (decode + hash in one mapInPandas)."""
    from ..multimodal.codec import ahash_bmp, attach_bmp_payload

    media = attach_bmp_payload(load(spark, sf_dir, "documents"))
    return ahash_bmp(media)


def _ahash_reps(fp):
    """Identical-hash collapse: one combinable groupBy, checkpointed
    because both sides of the band join (and q189's member mapping)
    read it."""
    return checkpoint(
        fp.groupBy("b0", "b1", "b2", "b3")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def _ahash_rep_pairs(reps):
    """Banded pigeonhole join over distinct-hash representatives."""
    from ..multimodal.codec import AHASH_BANDS

    bands = reps.select(
        "rep",
        "n_members",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"), F.col(f"b{i}").alias("v")
                    )
                    for i in range(AHASH_BANDS)
                ]
            )
        ).alias("blk"),
    ).select("rep", "n_members", "b0", "b1", "b2", "b3", "blk.band_id", "blk.v")
    a, b = bands.alias("a"), bands.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.b{i}").bitwiseXOR(F.col(f"b.b{i}")))
        for i in range(AHASH_BANDS)
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            ham.alias("hamming"),
            F.col("a.n_members").alias("n_a"),
            F.col("b.n_members").alias("n_b"),
        )
        .distinct()
        .filter(F.col("hamming") <= _AHASH_HAM_MAX)
    )


# --------------------------------------------------------------------------
# q189: the image-dedup DECISION — near-dup pairs (q188) become
# clusters (connected components), clusters become one kept image
# each, and every document maps to its cluster through its hash
# group. The q124 keep-best shape for the multimodal column.
# --------------------------------------------------------------------------

_Q189_ORACLE = f"""
WITH RECURSIVE {_AHASH_CTE},
reps AS (
  SELECT b0, b1, b2, b3, MIN(doc_id) AS rep FROM f GROUP BY b0, b1, b2, b3
),
pairs AS (
  SELECT a.rep AS rep_a, b.rep AS rep_b
  FROM reps a JOIN reps b ON a.rep < b.rep
    AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= {_AHASH_HAM_MAX}
),
sym AS (
  SELECT rep_a AS a, rep_b AS b FROM pairs
  UNION
  SELECT rep_b, rep_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cl AS (SELECT a AS rep, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a),
members AS (
  SELECT COALESCE(cl.cluster_id, r.rep) AS cluster_id, f.doc_id, f.ones
  FROM f
  JOIN reps r USING (b0, b1, b2, b3)
  LEFT JOIN cl ON cl.rep = r.rep
)
SELECT m.cluster_id, m.doc_id AS kept_doc_id,
       CAST(m.ones AS BIGINT) AS kept_ones, s.n_docs
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster_id ORDER BY ones DESC, doc_id) AS rn
      FROM members) m
JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM members GROUP BY cluster_id) s USING (cluster_id)
WHERE m.rn = 1
"""


@query("q189_image_dedup_keep_best", oracle=_Q189_ORACLE, tags=("multimodal", "dedup", "graph", "EXT"))
def q189_image_dedup_keep_best(spark, sf_dir):
    """Image dedup end-to-end: aHash (q187) -> identical-hash collapse
    -> banded near-dup pairs (q188) -> connected components
    (large/small-star contraction, diameter-independent) -> keep the
    highest-detail image per cluster (max set bits 'ones' — flat
    boilerplate images lose to structured ones — then min doc_id).
    Every document maps to its cluster through its hash group, so
    cluster sizes count DOCUMENTS, not representatives.

    Scale shape: the decode is one Arrow pass; the only corpus-sized
    shuffles are the hash groupBy, the doc->rep mapping join, and the
    per-cluster window (partitioned by cluster — bounded by dup-group
    size); the pair join and CC run over representatives only."""
    from ..operators.graph import connected_components_star

    fp = checkpoint(_ahash_fingerprints(spark, sf_dir))
    reps = _ahash_reps(fp)
    edges = _ahash_rep_pairs(reps).select("rep_a", "rep_b")
    cc = connected_components_star(edges, src="rep_a", dst="rep_b").select(
        F.col("id").alias("rep"), "cluster_id"
    )
    rep_cluster = reps.join(cc, "rep", "left").select(
        "b0",
        "b1",
        "b2",
        "b3",
        F.coalesce("cluster_id", "rep").alias("cluster_id"),
    )
    members = fp.join(rep_cluster, ["b0", "b1", "b2", "b3"]).select(
        "cluster_id", "doc_id", "ones"
    )
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("ones"), "doc_id")
    return (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(sizes, "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("ones").cast("long").alias("kept_ones"),
            "n_docs",
        )
    )


# --------------------------------------------------------------------------
# q192: cross-modality dedup agreement — q181's agreement-gate idea
# applied across MODALITIES: for every verified TEXT near-dup pair
# (q23's exact Jaccard edges), how far apart are the two documents'
# IMAGE hashes? Linear in the text-pair count (two fingerprint joins,
# no new pair generation), and the bucketed report is the go/no-go a
# pipeline checks before trusting one modality's dedup to stand in
# for the other's.
# --------------------------------------------------------------------------

def _q192_oracle() -> str:
    from .text import _Q23_ORACLE

    return f"""
WITH {_AHASH_CTE},
tp AS (SELECT doc_a, doc_b, jaccard FROM ({_Q23_ORACLE})),
j AS (
  SELECT tp.jaccard,
         bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
       + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) AS ham
  FROM tp
  JOIN f fa ON fa.doc_id = tp.doc_a
  JOIN f fb ON fb.doc_id = tp.doc_b
)
SELECT CASE WHEN ham = 0 THEN 'identical'
            WHEN ham <= {_AHASH_HAM_MAX} THEN 'near'
            WHEN ham <= 10 THEN 'far'
            ELSE 'unrelated' END AS image_verdict,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(CAST(SUM(CAST(jaccard AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS avg_jaccard
FROM j GROUP BY 1
"""


@query("q192_modality_agreement", oracle=_q192_oracle(), tags=("multimodal", "dedup", "EXT"))
def q192_modality_agreement(spark, sf_dir):
    """Cross-modality dedup agreement: bucket every verified text
    near-dup pair (q23 exact Jaccard edges) by the Hamming distance of
    the two docs' image aHashes — identical (0) / near (<=3) / far
    (<=10) / unrelated. High 'near' mass means image dedup could
    front-run text dedup at a fraction of the cost; 'unrelated' mass
    is where it would silently miss.

    Scale shape: cost is two hash joins of the text-pair set against
    the fingerprint table (linear in pairs) plus a 4-row aggregate —
    no new pair generation. The Jaccard average uses the exact-decimal
    sum discipline so both engines divide identical numerators."""
    from .text import q23_ngram_jaccard_pairs

    fp = _ahash_fingerprints(spark, sf_dir)
    tp = q23_ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    fa = fp.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    fb = fp.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"bb{i}")))
        for i in range(4)
    )
    verdict = (
        F.when(ham == 0, F.lit("identical"))
        .when(ham <= _AHASH_HAM_MAX, F.lit("near"))
        .when(ham <= 10, F.lit("far"))
        .otherwise(F.lit("unrelated"))
    )
    return (
        tp.join(fa, "doc_a")
        .join(fb, "doc_b")
        .groupBy(verdict.alias("image_verdict"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.sum(F.col("jaccard").cast("decimal(18,8)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1))
            ).alias("avg_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# q193: incremental image dedup — the q126/q150 ingest shape for the
# image modality. New batch = doc_id % 5 == 0 (the registry's standard
# incremental split), history = the rest; each new image probes the
# history's fingerprint index through the banded blocks and reports
# its best (lowest-Hamming) history match within the near-dup radius.
# --------------------------------------------------------------------------

_Q193_ORACLE = f"""
WITH {_AHASH_CTE}
SELECT new_doc_id, best_hist_doc_id, hamming
FROM (
  SELECT a.doc_id AS new_doc_id, b.doc_id AS best_hist_doc_id,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
           AS hamming,
         ROW_NUMBER() OVER (
           PARTITION BY a.doc_id
           ORDER BY bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                  + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)),
                    b.doc_id) AS rn
  FROM f a JOIN f b
    ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= {_AHASH_HAM_MAX}
)
WHERE rn = 1
"""


@query("q193_incremental_image_dedup", oracle=_Q193_ORACLE, tags=("multimodal", "dedup", "EXT"))
def q193_incremental_image_dedup(spark, sf_dir):
    """Ingest-time image dedup: the new batch (doc_id % 5 == 0, the
    registry's incremental split) probes the HISTORY fingerprint index
    via the banded pigeonhole blocks; each new image reports its best
    history match within Hamming <= {_AHASH_HAM_MAX} (min distance,
    ties to the lowest history id) — the 'have we seen this image'
    decision an ingest pipeline makes per batch.

    Scale shape: per-batch cost is batch x band-block density, never
    history x history — the incident-edge property that makes q126/
    q150 batch-linear, here for the image modality. The history index
    in production is the persisted q187 fingerprint table partitioned
    by band value; this query recomputes it inline so the oracle can
    rebuild everything from source bytes."""
    from ..multimodal.codec import AHASH_BANDS

    fp = checkpoint(_ahash_fingerprints(spark, sf_dir))

    def banded(df, prefix):
        return df.select(
            F.col("doc_id").alias(f"{prefix}_id"),
            *[F.col(f"b{i}").alias(f"{prefix}{i}") for i in range(AHASH_BANDS)],
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"), F.col(f"b{i}").alias("v")
                        )
                        for i in range(AHASH_BANDS)
                    ]
                )
            ).alias("blk"),
        ).select(
            f"{prefix}_id",
            *[f"{prefix}{i}" for i in range(AHASH_BANDS)],
            "blk.band_id",
            "blk.v",
        )

    new = banded(fp.filter(F.col("doc_id") % 5 == 0), "n")
    hist = banded(fp.filter(F.col("doc_id") % 5 != 0), "h")
    ham = sum(
        F.bit_count(F.col(f"n{i}").bitwiseXOR(F.col(f"h{i}")))
        for i in range(AHASH_BANDS)
    ).cast("long")
    cand = (
        new.join(hist, ["band_id", "v"])
        .select(
            F.col("n_id").alias("new_doc_id"),
            F.col("h_id").alias("best_hist_doc_id"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= _AHASH_HAM_MAX)
    )
    w = Window.partitionBy("new_doc_id").orderBy("hamming", "best_hist_doc_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_doc_id", "best_hist_doc_id", "hamming")
    )


# --------------------------------------------------------------------------
# q220: audio ENERGY hash through the real WAV decode path — the audio
# analog of q187's aHash. 64 length-normalized time frames (frame of
# sample i = i*64 // n), bit = frame mean |amp| strictly above the
# clip mean (exact integer cross-multiply), four 16-bit bands. The
# near-dup join over these fingerprints is the SAME operator as
# q188/q189 (_ahash_reps + _ahash_rep_pairs read only doc_id/b0..b3)
# — registered once, shared by both modalities; on this fixture the
# energy profile of byte-derived audio is noise-dominated (measured:
# true text near-dups sit at Hamming 15+, the random floor at 7), so
# the pair query would gate nothing and is deliberately not
# registered for audio.
# --------------------------------------------------------------------------

_Q220_ORACLE = """
WITH samp AS (
  SELECT d.doc_id, length(d.text) AS n,
         CAST((u.i - 1) * 64 // length(d.text) AS INT) AS frame,
         ABS((ascii(substring(d.text, u.i, 1)) - 128) * 256) AS amp
  FROM documents d, UNNEST(generate_series(1, length(d.text))) AS u(i)
),
fr AS (
  SELECT doc_id, n, frame, SUM(amp) AS e, COUNT(*) AS nf
  FROM samp GROUP BY doc_id, n, frame
),
tot AS (SELECT doc_id, SUM(e) AS total FROM fr GROUP BY doc_id),
bits AS (
  SELECT fr.doc_id, fr.frame,
         CASE WHEN fr.e * fr.n > t.total * fr.nf THEN 1 ELSE 0 END AS bit
  FROM fr JOIN tot t USING (doc_id)
)
SELECT doc_id,
  CAST(SUM(CASE WHEN frame//16=0 THEN bit << (frame%16) ELSE 0 END) AS INT) AS b0,
  CAST(SUM(CASE WHEN frame//16=1 THEN bit << (frame%16) ELSE 0 END) AS INT) AS b1,
  CAST(SUM(CASE WHEN frame//16=2 THEN bit << (frame%16) ELSE 0 END) AS INT) AS b2,
  CAST(SUM(CASE WHEN frame//16=3 THEN bit << (frame%16) ELSE 0 END) AS INT) AS b3,
  CAST(SUM(bit) AS INT) AS ones
FROM bits GROUP BY doc_id
"""


@query("q220_audio_energy_hash", oracle=_Q220_ORACLE, tags=("multimodal", "dedup", "EXT"))
def q220_audio_energy_hash(spark, sf_dir):
    """Perceptual energy hash per audio clip through the REAL decode
    path: encode 16-bit PCM WAV per doc, walk the RIFF chunks back,
    cut into 64 length-normalized frames, bit = frame mean |amp|
    strictly above the clip mean (sum_f * n > total * n_f — exact
    integers), packed into four 16-bit bands. One Arrow-batched
    mapInPandas with per-clip state; the oracle rebuilds all 64 bits
    from the source bytes. The banded-Hamming pair join and keep-best
    collapse are q188/q189's operators unchanged — fingerprint columns
    are the shared contract.

    Fixture contract (the q86 one): texts are ASCII, so the oracle's
    per-CHAR sample synthesis equals the encoder's per-UTF-8-BYTE
    synthesis; a non-ASCII fixture would shift every sample index and
    needs a byte-level oracle. Empty texts produce zero-sample clips,
    which BOTH sides drop (ehash_wav skips them; generate_series over
    length 0 is empty)."""
    from ..multimodal.codec import attach_wav_payload, ehash_wav

    media = attach_wav_payload(load(spark, sf_dir, "documents"))
    return ehash_wav(media)
