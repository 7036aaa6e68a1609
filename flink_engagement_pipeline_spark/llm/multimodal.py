"""Multimodal columns: image/audio/video as opaque binary + metadata.

The Spark-side plumbing is real and tested: a typed media schema
(binary payload + struct metadata), Arrow-batched `mapInPandas`
feature extraction with a declared output schema, and partition-size
discipline (binary rows are big — `maxRecordsPerBatch` bounds Arrow
batch memory, and repartition-by-size would be the cluster-side knob).

The actual codec work (image decode, resize, audio frame sampling) is
STUBBED: the container has no image/audio libraries, so those steps
raise NotImplementedError unless `fake=True`, which substitutes a
deterministic byte-derived fake so the full pipeline (schema, batch
shape, UDF signature) can be exercised end-to-end in tests.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hamming_pairs_from_index

MEDIA_SCHEMA = "doc_id bigint, kind string, payload binary"
FEATURES_SCHEMA = "doc_id bigint, n_bytes bigint, payload_md5 string"
DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, feature_norm double"
)


def docs_as_media(docs: DataFrame) -> DataFrame:
    """Adapt the documents fixture into a media-shaped table: the text
    bytes stand in for an opaque blob (same columnar layout a real
    image/audio table would have: key + kind + binary)."""
    return docs.select(
        F.col("doc_id"),
        F.lit("text/plain").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    `mapInPandas` streams Arrow record batches; payloads arrive as
    Python bytes. This (not a row-at-a-time UDF) is the pattern for
    any per-blob compute at 100 TB — vectorized transfer, per-batch
    amortized overhead, output schema declared up front.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len),
                    "payload_md5": pdf["payload"].map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURES_SCHEMA)


MEDIA_FEATURES_ORACLE = """
SELECT doc_id,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       md5(text)                        AS payload_md5
FROM documents
"""


def decode_media(media: DataFrame, *, fake: bool = False) -> DataFrame:
    """Decode/resize/frame-sample stub.

    Real decode needs Pillow/libav, which this container does not ship
    — with ``fake=False`` the task raises NotImplementedError at
    execution time. ``fake=True`` derives deterministic pseudo-features
    from the payload bytes so the plumbing (schema, batching,
    downstream joins) is fully testable.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decode requires image/audio codecs not present in "
                    "this environment; pass fake=True for the deterministic "
                    "test double"
                )
            digests = pdf["payload"].map(lambda b: hashlib.md5(b).digest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": digests.map(lambda d: 64 + d[0] % 192),
                    "height": digests.map(lambda d: 64 + d[1] % 192),
                    "n_frames": digests.map(lambda d: 1 + d[2] % 32),
                    "feature_norm": digests.map(lambda d: d[3] / 255.0),
                }
            )

    return media.mapInPandas(_decode, schema=DECODED_SCHEMA)


FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"


def sample_frames(media: DataFrame, every_k: int = 4, *, fake: bool = False) -> DataFrame:
    """Frame-sampling stub: every k-th frame of a video payload as its
    own output row — the 1->N mapInPandas shape (one input blob, many
    frame rows), which is how video decode fans out at scale. Real
    frame extraction needs libav (absent here); ``fake=True`` derives a
    deterministic frame count and per-frame digest from the payload so
    the fan-out plumbing is fully testable. Arrow batches bound memory
    per task regardless of fan-out factor.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "frame sampling requires video codecs not present in this "
                    "environment; pass fake=True for the deterministic test double"
                )
            out_ids, out_idx, out_md5 = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = hashlib.md5(payload).digest()
                n_frames = 1 + d[2] % 32
                for idx in range(0, n_frames, every_k):
                    out_ids.append(doc_id)
                    out_idx.append(idx)
                    # text suffix (not raw int bytes): keeps the fake
                    # reproducible by a SQL oracle, whose md5 is
                    # VARCHAR-only
                    out_md5.append(
                        hashlib.md5(
                            payload + f":frame:{idx}".encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "frame_md5": out_md5}
            )

    return media.mapInPandas(_sample, schema=FRAMES_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id bigint, orig_w int, orig_h int, new_w int, new_h int, resized_md5 string"
)


def resize_media(
    media: DataFrame, max_side: int = 128, *, fake: bool = False
) -> DataFrame:
    """Resize stub completing the decode/extract/resize/frame-sample
    quartet: cap the longer image side at ``max_side`` preserving
    aspect ratio (integer arithmetic only, so the scaled dims are
    engine-exact). Real resampling needs Pillow (absent here);
    ``fake=True`` derives the original dims from the payload digest
    (same convention as decode_media) and digests the would-be resized
    payload, so schema, batching, and both scale branches (shrink vs
    passthrough) are fully testable — and SQL-reproducible."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image resize requires Pillow, not present in this "
                    "environment; pass fake=True for the deterministic test double"
                )
            ids, ows, ohs, nws, nhs, md5s = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = hashlib.md5(payload).digest()
                ow, oh = 64 + d[0] % 192, 64 + d[1] % 192
                mx = max(ow, oh)
                if mx > max_side:
                    nw, nh = ow * max_side // mx, oh * max_side // mx
                else:
                    nw, nh = ow, oh
                ids.append(doc_id); ows.append(ow); ohs.append(oh)
                nws.append(nw); nhs.append(nh)
                md5s.append(
                    hashlib.md5(payload + f":resize:{nw}x{nh}".encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids, "orig_w": ows, "orig_h": ohs,
                    "new_w": nws, "new_h": nhs, "resized_md5": md5s,
                }
            )

    return media.mapInPandas(_resize, schema=RESIZED_SCHEMA)


# Exact DuckDB replication of the fake resizer (bytes 0/1 of the md5
# digest are hex chars 1-2 / 3-4; integer-division scaling).
MEDIA_RESIZE_ORACLE = """
WITH m AS (
    SELECT doc_id, text,
           64 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 192 AS ow,
           64 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 192 AS oh
    FROM documents
),
r AS (
    SELECT doc_id, text, ow, oh,
           CASE WHEN greatest(ow, oh) > 128
                THEN (ow * 128) // greatest(ow, oh) ELSE ow END AS nw,
           CASE WHEN greatest(ow, oh) > 128
                THEN (oh * 128) // greatest(ow, oh) ELSE oh END AS nh
    FROM m
)
SELECT doc_id,
       CAST(ow AS INT) AS orig_w, CAST(oh AS INT) AS orig_h,
       CAST(nw AS INT) AS new_w,  CAST(nh AS INT) AS new_h,
       md5(text || ':resize:' || CAST(nw AS VARCHAR) || 'x' || CAST(nh AS VARCHAR))
           AS resized_md5
FROM r
"""


# Exact DuckDB replication of the fake frame sampler (documents stand
# in for the blob table, so payload bytes == utf8 text bytes): byte 2
# of the md5 digest is hex chars 5-6, and the per-frame digest is the
# md5 of text + ':frame:<idx>'.
MEDIA_FRAME_SAMPLE_ORACLE = """
WITH m AS (
    SELECT doc_id, text,
           1 + CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 32 AS n_frames
    FROM documents
)
SELECT doc_id,
       CAST(unnest(range(0, n_frames, 4)) AS INT)          AS frame_idx,
       md5(text || ':frame:' ||
           CAST(unnest(range(0, n_frames, 4)) AS VARCHAR)) AS frame_md5
FROM m
"""


# ---------------------------------------------------------------------------
# perceptual-hash near-dup for media (aHash over the fake decode)
# ---------------------------------------------------------------------------

PHASH_BITS = 60  # signed-long-safe, same rotation geometry as SimHash
PHASH_PREFIX = 12
PHASH_ROTATIONS = 5
PHASH_MAX_HAMMING = 6  # fixture near-dups measure <= 2; random pairs >= 12


def media_phash(media: DataFrame) -> DataFrame:
    """60-bit average-hash (aHash) per media blob over the
    deterministic fake decode — the perceptual-hash half of the media
    dedup story (r8 verdict ask #5).

    A production pHash decodes the image, downsamples to a small
    luminance grid, and sets bit b iff cell b's luminance exceeds the
    grid mean. This container has no codecs, so the DECODE is the
    deterministic fake (consistent with decode_media/resize_media):
    the payload's byte stream is shingled (distinct 3-gram windows —
    llm/text.py:shingles, the engine's proven cross-engine device)
    and each shingle deposits md5-derived 'luminance' into one of 60
    cells; bit b = cell b above the mean. The thresholding,
    bit-packing, prefix-rotation bucketing, and Hamming verification
    downstream are EXACTLY the production pipeline — only the
    cell-fill is the fake — and the hash is locality-sensitive the
    way a real aHash is: blobs sharing most content share most cells
    (measured on the fixture: near-dup payloads Hamming <= 2, random
    pairs >= 12, so the <= 6 verify threshold separates cleanly).

    Plan shape: shingle explode -> (doc_id, bin) aggregation (the
    map-side partial combine reduces the shuffle to <= 60
    occupied-cell rows per doc regardless of blob size) -> doc_id
    mean window -> bit-pack aggregation riding the window's
    partitioning. All three candidate forms were measured (sf0.1
    warm min-of-3 / fresh-vanilla-session cold): this window form
    3.1 s / ~3.5 s; a 60-conditional-aggregate single-exchange form
    3.0 s / 15.6 s — its generated code costs ~12 s of ONE-TIME
    Janino compilation per driver session, a tax on exactly the cold
    gate path; a collect_list + HOF-lambda pack form 4.5 s / ~3.5 s —
    interpreted per-element folds lose the warm race. Shuffle volume
    is docs x occupied-cells for every form (partial agg makes the
    first exchange cell-sized, not shingle-sized), so the constants
    decide, and the window form wins both temperatures. No Python
    UDF, no all-pairs anywhere.
    """
    from .text import shingles

    bits = PHASH_BITS
    # r15: the shingle array is exploded INLINE, never via a named
    # intermediate column. explode of a bare attribute makes
    # InferFiltersFromGenerate add a size(col)>0 filter that predicate
    # pushdown then rewrites through the projection and BELOW the
    # caller's fan_out exchange — re-evaluating the whole
    # normalize+zip+concat+distinct shingle build once per row in the
    # filter (on the pre-repartition split count) and again in the
    # post-exchange projection. Measured 4x on the signature stage
    # (1.56 -> 0.39 s at sf0.1); explode of a non-attribute expression
    # gets no inferred filter, so the build runs exactly once inside
    # Generate.
    binned = (
        media.select(
            "doc_id",
            F.explode(
                shingles(F.col("payload").cast("string"), 3)
            ).alias("s"),
        )
        .selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS h",
        )
        .selectExpr(
            "doc_id",
            f"CAST(h % {bits} AS INT) AS bin",
            f"(h DIV {bits}) % 256 AS lum",
        )
    )
    pix = binned.groupBy("doc_id", "bin").agg(F.sum("lum").alias("pix"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    return (
        pix.withColumn("tot", F.sum("pix").over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN pix * {bits} > tot"
                    " THEN shiftleft(CAST(1 AS BIGINT), bin)"
                    " ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("phash")
        )
    )


def media_phash_buckets(
    media: DataFrame, rotations: int = PHASH_ROTATIONS
) -> DataFrame:
    """Persistable pHash bucket index: (doc_id, phash, rot, bucket) —
    12-bit prefix probes of `rotations` bit-rotations of the 60-bit
    hash, the identical multi-probe geometry as the SimHash index
    (llm/dedup.py:simhash_buckets; the 5 rotations tile all 60 bits,
    so any pair within Hamming 4 is GUARANTEED to collide on at least
    one probe by pigeonhole — fixture near-dups measure <= 2)."""
    return _phash_buckets_of_sigs(media_phash(media), rotations)


def _phash_buckets_of_sigs(
    sigs: DataFrame, rotations: int = PHASH_ROTATIONS
) -> DataFrame:
    """Rotation-bucket expansion of a (doc_id, phash) signature frame —
    the tail of media_phash_buckets factored out so alternative
    signature producers (the video family's factored frame hasher)
    feed the identical index geometry."""
    bits, prefix = PHASH_BITS, PHASH_PREFIX
    rots = F.array(
        *[
            F.struct(
                F.lit(r).alias("rot"),
                (
                    (F.col("phash") % F.lit(1 << (bits - r * prefix)))
                    * F.lit(1 << (r * prefix))
                    # integer DIV, never float /: 60-bit values exceed
                    # double's 53-bit mantissa
                    + F.expr(f"phash DIV {1 << (bits - r * prefix)}")
                ).alias("rotated"),
            )
            for r in range(rotations)
        ]
    )
    return sigs.select(
        "doc_id", "phash", F.explode(rots).alias("rb")
    ).select(
        "doc_id",
        "phash",
        "rb.rot",
        F.shiftright(F.col("rb.rotated"), bits - prefix).alias("bucket"),
    )


def media_phash_pairs(
    media: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    rotations: int = PHASH_ROTATIONS,
) -> DataFrame:
    """Perceptual near-dup pairs for media: candidates from the
    rotation-bucket equi-join, verified by exact Hamming distance on
    the 60-bit hashes already in the index — no payload re-read at
    verify time, the same index-only verification the SimHash family
    has. Never all-pairs.

    r15: the freshly built index is lazily localCheckpointed — it
    feeds BOTH sides of the candidate self-join, and exchange reuse
    does not unify them (0 ReusedExchange in the executed plan; the
    shingle build's lambda functions defeat plan canonicalization),
    so the whole signature pipeline executed twice per build.
    Measured 1.49 -> 1.27 s at sf0.1; narrow 4-column index rows, the
    CC-edges checkpoint convention, no cross-run memo.

    Block lifetime: the checkpoint blocks sit in executor block
    storage (memory and local disk) from the first action until the
    returned frame, and every frame built on it, is unreachable from
    Python and the JVM. Spark's ContextCleaner then removes them after
    the next JVM GC (it forces one every
    ``spark.cleaner.periodicGC.interval``, 30 min by default), or at
    SparkContext stop. They are not a reliable store: an executor loss
    loses them, and a job that still reads them fails with
    "Checkpoint block ... not found" instead of recomputing."""
    return hamming_pairs_from_index(
        media_phash_buckets(media, rotations).localCheckpoint(
            eager=False
        ),
        "phash",
        max_hamming,
    )


def _phash_sigs_ctes(where: str | None = None, src: str = "documents") -> str:
    """Shared CTE chain computing (doc_id, phash) signatures — fake
    decode (shingle cells), aHash threshold/pack — used by the pair,
    deletion, ingest, and video-frame oracles so all four stay one
    text. ``where`` filters the sigs CTE: a doc's signature and bucket
    rows derive 1:1 from its id, so this is exactly index-row
    deletion. ``src`` is the (doc_id, text) relation to hash — the
    documents table by default, or the frames CTE for the video
    family (whose composite key rides doc_id as doc*64+frame)."""
    n = 3
    grams = " || ' ' || ".join(f"ws[i+{d}]" for d in range(n))
    bits = PHASH_BITS
    flt = f"WHERE NOT ({where})" if where else ""
    return f"""base AS (
    SELECT doc_id,
           string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
    FROM {src}
),
sh AS (
    SELECT doc_id,
           unnest(
               CASE WHEN len(ws) >= {n}
                    THEN list_distinct(list_transform(range(1, len(ws) - {n - 2}), i -> {grams}))
                    ELSE [array_to_string(ws, ' ')] END
           ) AS sh
    FROM base
),
hs AS (
    SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh
),
pix AS (
    SELECT doc_id, h % {bits} AS bin, SUM((h // {bits}) % 256) AS pix
    FROM hs GROUP BY 1, 2
),
tot AS (SELECT doc_id, SUM(pix) AS tot FROM pix GROUP BY 1),
sigs AS (
    SELECT p.doc_id,
           CAST(SUM(CASE WHEN p.pix * {bits} > t.tot
                         THEN (CAST(1 AS BIGINT) << p.bin) ELSE 0 END) AS BIGINT) AS phash
    FROM pix p JOIN tot t ON p.doc_id = t.doc_id
    GROUP BY 1
),
filtered_sigs AS (SELECT * FROM sigs {flt}),
bucketed AS (
    SELECT doc_id, phash, r.r AS rot,
           (((phash % (CAST(1 AS BIGINT) << ({bits} - {PHASH_PREFIX} * r.r))) * (CAST(1 AS BIGINT) << ({PHASH_PREFIX} * r.r))
             + phash // (CAST(1 AS BIGINT) << ({bits} - {PHASH_PREFIX} * r.r))) >> {bits - PHASH_PREFIX}) AS bucket
    FROM filtered_sigs CROSS JOIN (SELECT unnest(range({PHASH_ROTATIONS})) AS r) r
)"""


def media_phash_oracle_sql(
    max_hamming: int = PHASH_MAX_HAMMING, where: str | None = None
) -> str:
    """Exact DuckDB replication of the full pHash pipeline — fake
    decode (shingle cells), aHash threshold/pack, rotation buckets,
    Hamming verify — WHERE-parameterized so the same generator serves
    the full build and the index-deletion rebuild-without-X twin. The
    shingle CTE is the proven portable-MinHash device; the rotation
    arithmetic is the SimHash oracle's. MIN over colliding rotations
    equals the Spark side's FIRST (per-pair hamming is
    rotation-invariant)."""
    return f"""
WITH {_phash_sigs_ctes(where)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(min(bit_count(xor(a.phash, b.phash))) AS INT) AS hamming
FROM bucketed a
JOIN bucketed b
  ON a.rot = b.rot AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# frame-level video near-dup (frame fan-out x per-frame pHash)
# ---------------------------------------------------------------------------

VIDEO_FRAME_STRIDE = 4  # sample_frames' every_k default
VIDEO_MIN_FRAC = 0.5  # matched-frame fraction floor for a video pair
_FRAME_KEY = 64  # frame slots per video key (n_frames <= 32 < 64)


def media_video_frames(
    media: DataFrame, every_k: int = VIDEO_FRAME_STRIDE
) -> DataFrame:
    """Fan a video blob out into its sampled frames as a media-shaped
    table, keyed by the composite ``doc_id * 64 + frame_idx`` (the
    fake decode bounds n_frames at 32, so the packing is collision-
    free and both engines recover video and frame by div/mod).

    Same deterministic fake as :func:`sample_frames` (frame count
    from digest byte 2, every k-th frame), but evaluated JVM-side as
    Catalyst expressions instead of mapInPandas: the fake's frame
    content derives from the payload bytes alone, so nothing needs
    Python — measured faster, and whole-stage-codegen'd into the
    downstream hash. A real codec decode would ride sample_frames'
    Arrow-batched 1->N mapInPandas shape instead; everything from the
    returned frame table onward (hashing, bucketing, pair scoring) is
    the production pipeline either way. Frame content = payload +
    ':frame:<idx>' — the per-frame digest convention
    MEDIA_FRAME_SAMPLE_ORACLE pins."""
    m = media.select(
        "doc_id",
        F.col("payload").cast("string").alias("text"),
        (
            F.lit(1)
            + F.conv(F.substring(F.md5("payload"), 5, 2), 16, 10)
            .cast("int")
            % 32
        ).alias("n_frames"),
    )
    return m.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n_frames") - 1, F.lit(every_k)
            )
        ).alias("fi"),
    ).select(
        (F.col("doc_id") * _FRAME_KEY + F.col("fi")).alias("doc_id"),
        F.lit("text/plain").alias("kind"),
        F.concat(
            F.col("text"), F.lit(":frame:"), F.col("fi").cast("string")
        )
        .cast("binary")
        .alias("payload"),
    )


def video_frame_phash_sigs(
    media: DataFrame, every_k: int = VIDEO_FRAME_STRIDE
) -> DataFrame:
    """(frame-key, phash) signatures of every sampled frame —
    value-identical to ``media_phash(media_video_frames(media))``
    (pin-tested in tests/test_r14_opt.py) but ~4x cheaper: the frame
    payload is ``payload || ':frame:<idx>'`` appended with NO
    whitespace, so when the payload ends in a non-whitespace byte the
    frame's normalized token array equals the video's with only the
    LAST token rewritten, and its distinct 3-gram shingle set is
    exactly

        distinct(windows 1..m-3 of the video's tokens)   [PREFIX]
      ∪ { 'w[m-2] w[m-1] w[m]:frame:<idx>' }             [TAIL]

    (the tail contains ':frame:', which no prefix window can, so the
    union is disjoint). The aHash cell sums are additive over the
    distinct shingle set, so each video's prefix cells are hashed
    ONCE and every frame adds a single tail md5 — versus the direct
    pipeline's full re-shingle + re-md5 of the whole payload per
    frame (~4.6 frames/video: the dominant stage of the video family,
    measured 6.9 s of media_video_neardup's 10.8 s at sf0.1 — see
    OPTIMIZATION_r14.md; the profiler is ``git show
    0dbd1ad:tools/video_profile.py``). The per-frame threshold/pack
    then needs no frame-volume window either: the frame total is
    ``prefix_total + tail_lum`` by construction, so packing is one
    equi-join fan-out (video cells x frames, doc_id-keyed) plus one
    aggregation riding the same partitioning.

    Exactness guards — a video routes through the UNFACTORED pipeline
    (identical code path as before) unless ALL hold:
      * the raw payload ends in a non-whitespace byte (else the
        suffix becomes its own token and the window structure shifts),
      * lower(payload) does not contain ':frame:' (else a tail could
        collide with a prefix window and distinctness would differ),
      * the video has >= 4 normalized tokens (else the <3-token
        whole-text shingle fallback applies to some frame).
    The guards are per-row projections; on the fixtures every doc is
    fast-path, and adversarial docs are pin-tested equal through the
    slow route."""
    from pyspark.sql import Window

    bits, fk = PHASH_BITS, _FRAME_KEY
    text_s = F.col("payload").cast("string")
    base = media.select(
        "doc_id",
        "payload",
        text_s.alias("text"),
        F.split(
            F.regexp_replace(F.trim(F.lower(text_s)), r"\s+", " "), " "
        ).alias("ws"),
        (
            F.lit(1)
            + F.conv(F.substring(F.md5("payload"), 5, 2), 16, 10)
            .cast("int")
            % 32
        ).alias("n_frames"),
    ).withColumn("m", F.size("ws"))
    is_fast = (
        (F.col("m") >= 4)
        & (F.instr(F.lower("text"), ":frame:") == 0)
        & F.col("text").rlike(r"\S\z")
    )
    base = base.withColumn("fast", is_fast)

    # slow route: the exact pre-factorization pipeline, payload-complete
    slow_sigs = media_phash(
        media_video_frames(
            base.filter(~F.col("fast")).select(
                "doc_id", F.lit("text/plain").alias("kind"), "payload"
            ),
            every_k,
        )
    )

    fast = base.filter(F.col("fast"))
    # PREFIX cells: distinct 3-gram windows over tokens 1..m-1 (none
    # touches the rewritten last token), hashed once per video — the
    # same zip-shift gram build as llm/text.shingles
    wsp = F.slice(F.col("ws"), 1, F.col("m") - 1)
    shifted = [wsp] + [
        F.slice(wsp, d + 1, F.greatest(F.size(wsp) - d, F.lit(0)))
        for d in (1, 2)
    ]
    z = F.slice(F.arrays_zip(*shifted), 1, F.size(wsp) - 2)
    grams = F.transform(
        z, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"])
    )
    pcells = (
        fast.select("doc_id", F.explode(F.array_distinct(grams)).alias("s"))
        .selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS h",
        )
        .selectExpr(
            "doc_id",
            f"CAST(h % {bits} AS INT) AS bin",
            f"(h DIV {bits}) % 256 AS lum",
        )
        .groupBy("doc_id", "bin")
        .agg(F.sum("lum").alias("pix"))
        .withColumn(
            "ptot", F.sum("pix").over(Window.partitionBy("doc_id"))
        )
    )
    # TAIL rows: one md5 per sampled frame
    tails = (
        fast.select(
            "doc_id",
            F.element_at("ws", F.col("m") - 2).alias("w1"),
            F.element_at("ws", F.col("m") - 1).alias("w2"),
            F.element_at("ws", F.col("m")).alias("w3"),
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_frames") - 1, F.lit(every_k)
                )
            ).alias("fi"),
        )
        .select(
            "doc_id",
            "fi",
            F.concat_ws(
                " ",
                "w1",
                "w2",
                F.concat(
                    "w3", F.lit(":frame:"), F.col("fi").cast("string")
                ),
            ).alias("s"),
        )
        .selectExpr(
            "doc_id",
            "fi",
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS h",
        )
        .selectExpr(
            "doc_id",
            "fi",
            f"CAST(h % {bits} AS INT) AS fbin",
            f"(h DIV {bits}) % 256 AS flum",
        )
    )
    # pack: frame pix(bin) = prefix pix + tail lum when bins coincide;
    # frame total = prefix total + tail lum, so the threshold rides the
    # join row — no frame-volume window. The tail's own bit is added
    # separately when its bin has no prefix cell.
    j = pcells.join(tails, "doc_id").withColumn(
        "contrib",
        F.expr(
            f"CASE WHEN (pix + IF(bin = fbin, flum, 0)) * {bits}"
            " > ptot + flum"
            " THEN shiftleft(CAST(1 AS BIGINT), bin)"
            " ELSE CAST(0 AS BIGINT) END"
        ),
    )
    fast_sigs = (
        j.groupBy("doc_id", "fi", "fbin", "flum", "ptot")
        .agg(
            F.sum("contrib").alias("pp"),
            F.max(F.expr("IF(bin = fbin, 1, 0)")).alias("hit"),
        )
        .select(
            (F.col("doc_id") * fk + F.col("fi")).alias("doc_id"),
            (
                F.col("pp")
                + F.expr(
                    f"CASE WHEN hit = 0 AND flum * {bits} > ptot + flum"
                    " THEN shiftleft(CAST(1 AS BIGINT), fbin)"
                    " ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("phash"),
        )
    )
    return fast_sigs.unionByName(slow_sigs)


def video_frame_buckets(
    media: DataFrame,
    every_k: int = VIDEO_FRAME_STRIDE,
    rotations: int = PHASH_ROTATIONS,
) -> DataFrame:
    """Frame-level pHash bucket index (fkey, phash, rot, bucket) —
    identical rows to ``media_phash_buckets(media_video_frames(m))``,
    built through the factored frame hasher above (r14 optimization:
    one prefix-cell pass per video + one md5 per frame instead of a
    full re-shingle per frame)."""
    return _phash_buckets_of_sigs(
        video_frame_phash_sigs(media, every_k), rotations
    )


def media_video_neardup(
    media: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    min_frac: float = VIDEO_MIN_FRAC,
    every_k: int = VIDEO_FRAME_STRIDE,
) -> DataFrame:
    """Frame-level video near-dup — the real video-dedup shape (r9
    verdict ask #3), composed from proven pieces: the frame fan-out
    (media_video_frames, sample_frames' 1->N device), per-frame pHash
    over the SAME rotation-bucket index machinery as the document
    family (media_phash_buckets applied to frame keys), and video
    pairs scored by MATCHED-FRAME FRACTION — two videos are near-dups
    when >= ``min_frac`` of their combined sampled frames have a
    Hamming <= ``max_hamming`` partner in the other video.

    Plan shape at 100 TB: frames fan out 1->N but hashing stays one
    scan + one cell-sized exchange per frame (map-side partial agg,
    the media_phash property); candidates come from the bounded-key
    (rot, bucket) equi-join over the narrow FRAME index — never
    all-pairs over frames, never all-pairs over videos; the per-video
    frame counts are a broadcast-sized dimension joined after the
    pair aggregation. countDistinct collapses multi-rotation and
    multi-frame collisions before the fraction, and every quantity
    stays integer until the single final division, so the whole
    composition hash-matches the DuckDB twin (the pHash signature
    CTE chain parameterized by the frames relation).

    Returns (doc_a, doc_b, matched_a, matched_b, frames_a, frames_b,
    match_frac) for video pairs with match_frac >= ``min_frac``.

    r15: the freshly built frame index is lazily localCheckpointed —
    the serving tail references it THREE times (both sides of the
    frame-pair join + the frame-count dimension) and exchange reuse
    does not unify them (0 ReusedExchange measured; lambda functions
    defeat canonicalization), so the factored frame hasher still
    executed per reference. Measured 2.44 -> 2.07 s at sf0.1; narrow
    index rows, the CC-edges checkpoint convention, no cross-run
    memo. Block lifetime and executor-loss behaviour are as in
    :func:`media_phash_pairs`: released by the ContextCleaner once
    the frame is unreachable, lost (and fatal to a job still reading
    them) on executor loss."""
    return media_video_pairs_from_index(
        video_frame_buckets(media, every_k).localCheckpoint(
            eager=False
        ),
        max_hamming,
        min_frac,
    )


def _video_nframes(index: DataFrame) -> DataFrame:
    """Per-video SAMPLED frame counts derived from the frame index
    itself (each sampled frame contributes exactly one distinct fkey,
    carried by `rotations` bucket rows) — so the serving tail, the
    ingest screen, and the takedown need NO input beyond the index:
    deleting a video's index rows removes both its pairs and its
    frame count, which is exactly rebuild-without-X semantics."""
    return (
        index.select("doc_id")
        .distinct()
        .groupBy(F.expr(f"doc_id div {_FRAME_KEY}").alias("vid"))
        .agg(F.count(F.lit(1)).alias("nf"))
    )


def _video_scored(
    frame_pairs: DataFrame, nframes: DataFrame, min_frac: float
) -> DataFrame:
    """Shared score stage of the video family: verified frame pairs
    (doc_a, frame_a, doc_b, frame_b) with doc_a < doc_b in, scored
    video pairs out — matched-frame fraction over both sides' sampled
    frame counts from ``nframes`` (see _video_nframes)."""
    agg = frame_pairs.groupBy("doc_a", "doc_b").agg(
        F.countDistinct("frame_a").alias("matched_a"),
        F.countDistinct("frame_b").alias("matched_b"),
    )
    na = nframes.select(
        F.col("vid").alias("doc_a"), F.col("nf").alias("frames_a")
    )
    nb = nframes.select(
        F.col("vid").alias("doc_b"), F.col("nf").alias("frames_b")
    )
    return (
        agg.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .withColumn(
            "match_frac",
            (F.col("matched_a") + F.col("matched_b")).cast("double")
            / (F.col("frames_a") + F.col("frames_b")),
        )
        .filter(F.col("match_frac") >= min_frac)
        .select(
            "doc_a",
            "doc_b",
            "matched_a",
            "matched_b",
            "frames_a",
            "frames_b",
            "match_frac",
        )
    )


def media_video_pairs_from_index(
    index: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    min_frac: float = VIDEO_MIN_FRAC,
) -> DataFrame:
    """The factored SERVING tail of the video near-dup pipeline:
    scored video pairs from the persisted frame-level (fkey, phash,
    rot, bucket) index ALONE — frame-level rotation-bucket candidates
    (a.video < b.video), Hamming verify on the hashes in the index,
    and frame counts from the index's distinct fkeys (see
    _video_nframes), so lifecycle operations (takedown anti-join,
    compaction) feed the one code path the full build runs and never
    touch payloads."""
    a, b = index.alias("a"), index.alias("b")
    fp = (
        a.join(
            b,
            (F.col("a.rot") == F.col("b.rot"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (
                F.expr(f"a.doc_id div {_FRAME_KEY}")
                < F.expr(f"b.doc_id div {_FRAME_KEY}")
            ),
        )
        .filter(
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
            <= max_hamming
        )
        .select(
            F.expr(f"a.doc_id div {_FRAME_KEY}").alias("doc_a"),
            (F.col("a.doc_id") % _FRAME_KEY).alias("frame_a"),
            F.expr(f"b.doc_id div {_FRAME_KEY}").alias("doc_b"),
            (F.col("b.doc_id") % _FRAME_KEY).alias("frame_b"),
        )
    )
    return _video_scored(fp, _video_nframes(index), min_frac)


def streaming_media_video_ingest_pairs(
    new_media: DataFrame,
    corpus_index: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    min_frac: float = VIDEO_MIN_FRAC,
    every_k: int = VIDEO_FRAME_STRIDE,
) -> DataFrame:
    """The video ingest screen, one code path for the daily batch
    (`media_video_ingest`) and each streaming micro-batch
    (`stream_media_video_index_replay`), ARRIVAL-ORDER AGNOSTIC like
    the other five families' screens. A video arrives WHOLE (one blob
    row), so a video pair forms exactly once, in the batch whose
    member arrived later — and everything the matched-frame-fraction
    score needs for BOTH sides lives in the indexes at that moment:
    frame hashes for the Hamming verify, distinct frame keys for the
    denominators (_video_nframes). A batch therefore hashes only its
    own frames and touches no corpus payloads, the SimHash-class
    maintenance property. The cross join accepts either video-id
    order (normalized to doc_a < doc_b with per-side frame
    attribution following the normalization); in-batch pairs come
    from a strict-order self-join. When every batch id exceeds every
    corpus id, doc_b is the batch member of each pair. Accumulated
    over disjoint batches covering a corpus, the union of per-batch
    outputs equals `media_video_neardup` of the whole corpus."""
    fk = _FRAME_KEY
    new_idx = video_frame_buckets(new_media, every_k)
    nframes = _video_nframes(corpus_index.unionByName(new_idx))

    def _norm_pairs(a_idx: DataFrame, b_idx: DataFrame, cond) -> DataFrame:
        va, vb = F.expr(f"a.doc_id div {fk}"), F.expr(f"b.doc_id div {fk}")
        j = (
            a_idx.alias("a")
            .join(
                b_idx.alias("b"),
                (F.col("a.rot") == F.col("b.rot"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & cond,
            )
            .filter(
                F.bit_count(
                    F.col("a.phash").bitwiseXOR(F.col("b.phash"))
                )
                <= max_hamming
            )
        )
        a_first = va < vb
        return j.select(
            F.least(va, vb).alias("doc_a"),
            F.greatest(va, vb).alias("doc_b"),
            F.when(a_first, F.col("a.doc_id") % fk)
            .otherwise(F.col("b.doc_id") % fk)
            .alias("frame_a"),
            F.when(a_first, F.col("b.doc_id") % fk)
            .otherwise(F.col("a.doc_id") % fk)
            .alias("frame_b"),
        )

    va, vb = F.expr(f"a.doc_id div {fk}"), F.expr(f"b.doc_id div {fk}")
    cross = _norm_pairs(new_idx, corpus_index, va != vb)
    in_batch = _norm_pairs(new_idx, new_idx, va < vb)
    return _video_scored(cross.unionByName(in_batch), nframes, min_frac)


def media_video_oracle_sql(
    max_hamming: int = PHASH_MAX_HAMMING,
    min_frac: float = VIDEO_MIN_FRAC,
    every_k: int = VIDEO_FRAME_STRIDE,
    where: str | None = None,
    batch_only: bool = False,
) -> str:
    """Exact DuckDB twin of the video family — one generator for all
    three lifecycle stages (the document pHash discipline): the frame
    fan-out CTE (the MEDIA_FRAME_SAMPLE_ORACLE device keyed as
    doc*64+frame), the SHARED pHash signature chain parameterized by
    the frames relation, the frame-pair bucket join, and the
    matched-frame-fraction aggregation. ``where`` removes videos from
    the vm CTE — a video's frame rows, signatures, and frame count
    all derive 1:1 from it, so this is exactly frame-index takedown
    (rebuild-without-X). ``batch_only`` restricts output to pairs
    whose larger id is in the 80%%-of-max-id batch (the shared ingest
    split): as every batch id exceeds every corpus id there, that is
    exactly the ingest screen's output."""
    fk = _FRAME_KEY
    flt = f"WHERE NOT ({where})" if where else ""
    batch = (
        "WHERE doc_b >= (SELECT (max(doc_id) * 4) // 5 FROM documents)"
        if batch_only
        else ""
    )
    return f"""
WITH vm AS (
    SELECT doc_id, text,
           1 + CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 32 AS n_frames
    FROM documents {flt}
),
frames AS (
    SELECT doc_id * {fk} + unnest(range(0, n_frames, {every_k})) AS doc_id,
           text || ':frame:' ||
               CAST(unnest(range(0, n_frames, {every_k})) AS VARCHAR) AS text
    FROM vm
),
{_phash_sigs_ctes(src="frames")},
nf AS (
    SELECT doc_id // {fk} AS vid, count(*) AS nf FROM frames GROUP BY 1
),
fp AS (
    SELECT a.doc_id // {fk} AS doc_a, a.doc_id % {fk} AS frame_a,
           b.doc_id // {fk} AS doc_b, b.doc_id % {fk} AS frame_b
    FROM bucketed a JOIN bucketed b
      ON a.rot = b.rot AND a.bucket = b.bucket
     AND a.doc_id // {fk} < b.doc_id // {fk}
    WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
),
agg AS (
    SELECT doc_a, doc_b,
           count(DISTINCT frame_a) AS matched_a,
           count(DISTINCT frame_b) AS matched_b
    FROM fp GROUP BY 1, 2
)
SELECT * FROM (
    SELECT agg.doc_a AS doc_a, agg.doc_b AS doc_b,
           CAST(matched_a AS BIGINT) AS matched_a,
           CAST(matched_b AS BIGINT) AS matched_b,
           CAST(na.nf AS BIGINT)     AS frames_a,
           CAST(nb.nf AS BIGINT)     AS frames_b,
           CAST(matched_a + matched_b AS DOUBLE) / (na.nf + nb.nf)
               AS match_frac
    FROM agg
    JOIN nf na ON na.vid = agg.doc_a
    JOIN nf nb ON nb.vid = agg.doc_b
    {batch}
)
WHERE match_frac >= {min_frac}
"""


def media_phash_ingest_oracle_sql(
    max_hamming: int = PHASH_MAX_HAMMING,
) -> str:
    """DuckDB twin of the registered ``media_phash_ingest`` query over
    the 80%-of-max-id corpus/batch split (the dedup family's shared
    device): batch rows pair with lower ids, as every batch id
    exceeds every corpus id — the pairs the ingest screen forms
    against the corpus index and the batch itself, written
    ``doc_id > dup_of``."""
    return f"""
WITH cut AS (SELECT max(doc_id) * 4 // 5 AS c FROM documents),
{_phash_sigs_ctes()}
SELECT a.doc_id AS doc_id, b.doc_id AS dup_of,
       CAST(min(bit_count(xor(a.phash, b.phash))) AS INT) AS hamming
FROM bucketed a
JOIN bucketed b
  ON a.rot = b.rot AND a.bucket = b.bucket AND a.doc_id > b.doc_id,
  cut
WHERE a.doc_id >= cut.c
  AND bit_count(xor(a.phash, b.phash)) <= {max_hamming}
GROUP BY 1, 2
"""


