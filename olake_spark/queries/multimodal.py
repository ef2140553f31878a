"""Registry entries for the multimodal operators: image/audio/video decode,
perceptual hashes, media dedup and WebDataset shards."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olake_spark.queries.core import register, table
from olake_spark.queries.fragments import _BUCKET_SQL, dhash_bit


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


# pixel function shared (as closed-form SQL) with the Python synthesizer:
# R=(id*7+x*13+y*31)%256, G=(id*3+x*5+y*11)%256, B=(id+x+y)%256; checksum
# weight = (y*W + x + 1); dims w=8+(id*7)%57, h=8+(id*11)%41. The SQL
# oracle never touches the codec — a checksum match proves the Python
# decode(encode(pixels)) path reproduced every pixel at every position.
def _pix_sql(i: str, x: str, y: str) -> str:
    return (
        f"((({i})*7 + ({x})*13 + ({y})*31) % 256"
        f" + 2*((({i})*3 + ({x})*5 + ({y})*11) % 256)"
        f" + 4*((({i}) + ({x}) + ({y})) % 256))"
    )


@register(
    "multimodal_features",
    f"""
    WITH dims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents
    ), ys AS (
      SELECT id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims
    ), cells AS (
      SELECT id, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM ys
    ), px AS (
      SELECT id, w, h,
             sum((y*w + x + 1) * {_pix_sql("id", "x", "y")})::BIGINT AS cks
      FROM cells
      GROUP BY 1, 2, 3
    )
    SELECT id AS media_id,
           (54 + h * ((3*w + 3) // 4 * 4))::BIGINT AS n_bytes,
           'bmp' AS format, w::INT AS width, h::INT AS height,
           cks AS pix_checksum
    FROM px
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image feature extraction (operators/multimodal.py): synthesize
    one deterministic BMP per document id in a distributed Arrow kernel,
    then decode it for real (pure-stdlib codec) and report byte size,
    dimensions, and an exact position-weighted pixel checksum. The oracle
    recomputes n_bytes from the BMP layout formula (54-byte header +
    4-byte-padded rows) and the checksum from the pixel closed form — no
    codec on the oracle side, so agreement proves the decode is
    pixel-exact."""
    from olake_spark.operators.multimodal import extract_features, synthesize_images

    ids = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )
    media = synthesize_images(ids, fmt="bmp")
    return extract_features(media).drop("content_hash")


@register(
    "multimodal_decode_resize",
    f"""
    WITH dims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt
      FROM documents WHERE doc_id % 7 = 0
    ), oys AS (
      SELECT id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims
    ), ocells AS (
      SELECT id, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM oys
    ), orig AS (
      SELECT id, sum((y*w + x + 1) * {_pix_sql("id", "x", "y")})::BIGINT AS cks
      FROM ocells GROUP BY 1
    ), res AS (
      SELECT d.id,
             sum((gy.y*24 + gx.x + 1) *
                 {_pix_sql("d.id", "(gx.x*d.w)//24", "(gy.y*d.h)//16")})::BIGINT AS cks
      FROM dims d,
           generate_series(0, 15) gy(y),
           generate_series(0, 23) gx(x)
      GROUP BY 1
    )
    SELECT d.id AS media_id, d.fmt, d.w::INT AS orig_w, d.h::INT AS orig_h,
           o.cks AS orig_checksum,
           24::INT AS res_w, 16::INT AS res_h, r.cks AS res_checksum
    FROM dims d JOIN orig o ON d.id = o.id JOIN res r ON d.id = r.id
    """,
)
def multimodal_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal image pipeline, pixel-verified cross-engine:
    synthesize mixed BMP/PNG images → decode (real codec) → exact
    nearest-neighbor resize to 24×16 → re-encode in the same format →
    decode AGAIN and checksum. The oracle computes both checksums purely
    from the pixel closed form and the NN index map (src = out*in//24),
    so a hash match proves decode→resize→encode→decode reproduced every
    pixel of every image in both formats. All stages are Arrow-batched
    ``mapInPandas`` kernels over id-derived data — no shuffle until the
    final join on the unique media_id."""
    from olake_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synthesize_images,
    )

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 7 == 0)
    )
    media = synthesize_images(ids)
    orig = extract_features(media).select(
        "media_id",
        F.col("format").alias("fmt"),
        F.col("width").alias("orig_w"),
        F.col("height").alias("orig_h"),
        F.col("pix_checksum").alias("orig_checksum"),
    )
    resized = extract_features(resize_images(media, 24, 16)).select(
        "media_id",
        F.col("width").alias("res_w"),
        F.col("height").alias("res_h"),
        F.col("pix_checksum").alias("res_checksum"),
    )
    return orig.join(resized, "media_id")


@register(
    "multimodal_video_frames",
    f"""
    WITH params AS (
      SELECT doc_id::BIGINT AS id,
             2 + doc_id % 4 AS nf,
             8 + (doc_id*5) % 17 AS w,
             8 + (doc_id*3) % 13 AS h
      FROM documents WHERE doc_id % 9 = 0
    ), frames AS (
      SELECT id, nf, w, h, unnest(generate_series(0, nf - 1)) AS t FROM params
    ), sampled AS (
      SELECT * FROM frames WHERE t % 2 = 0
    ), ys AS (
      SELECT id, nf, w, h, t, id*131 + 7*t AS seed,
             unnest(generate_series(0, h - 1)) AS y
      FROM sampled
    ), cells AS (
      SELECT id, nf, w, h, t, seed, y, unnest(generate_series(0, w - 1)) AS x
      FROM ys
    )
    SELECT id AS media_id, nf::INT AS n_frames, t::INT AS frame_idx,
           w::INT AS width, h::INT AS height,
           sum((y*w + x + 1) * {_pix_sql("seed", "x", "y")})::BIGINT AS pix_checksum
    FROM cells
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (operators/multimodal.py sample_frames):
    synthesize APNG clips (real animated-PNG encodes, one independent
    zlib stream per frame), decode every 2nd frame, and checksum its
    pixels. The oracle computes frame counts, dims, and per-frame
    checksums purely from the frame-seed pixel closed form — agreement
    proves the container walk + per-frame DEFLATE decode + unfilter
    reproduced every pixel of every sampled frame. This makes all three
    modalities (image / audio / video) REAL decode paths under the
    exact-value gate."""
    from olake_spark.operators.multimodal import sample_frames, synthesize_videos

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 9 == 0)
    )
    return sample_frames(synthesize_videos(ids), every_n=2)


# audio sample closed form: s(i) = ((id*31 + i*17) % 4001) - 2000;
# n = 800 + (id*37) % 1600; rate = 8k (even id) / 16k (odd);
# WAV bytes = 44 + 2n; decimation by 3 keeps indices 3i'
def _snd_sql(i: str, x: str) -> str:
    return f"((({i})*31 + ({x})*17) % 4001 - 2000)"


@register(
    "multimodal_audio_decode",
    f"""
    WITH params AS (
      SELECT doc_id::BIGINT AS id,
             800 + (doc_id*37) % 1600 AS n,
             CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate
      FROM documents WHERE doc_id % 5 = 0
    ), idx AS (
      SELECT id, n, rate, unnest(generate_series(0, n - 1)) AS i FROM params
    ), feats AS (
      SELECT id,
             max(abs({_snd_sql("id", "i")}))::INT AS peak,
             sum(abs({_snd_sql("id", "i")}))::BIGINT AS sum_abs,
             sum((i + 1) * {_snd_sql("id", "i")})::BIGINT AS sample_checksum
      FROM idx GROUP BY id
    ), ridx AS (
      SELECT id, n, unnest(generate_series(0, (n + 2) // 3 - 1)) AS j FROM params
    ), rfeats AS (
      SELECT id, sum((j + 1) * {_snd_sql("id", "j*3")})::BIGINT AS res_checksum
      FROM ridx GROUP BY id
    )
    SELECT p.id AS media_id, (44 + 2*p.n)::BIGINT AS n_bytes,
           p.rate::INT AS sample_rate, p.n::BIGINT AS n_samples,
           f.peak, f.sum_abs, f.sample_checksum,
           (p.rate // 3)::INT AS res_rate, ((p.n + 2) // 3)::BIGINT AS res_n_samples,
           r.res_checksum
    FROM params p JOIN feats f ON p.id = f.id JOIN rfeats r ON p.id = r.id
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL audio pipeline, sample-verified cross-engine: synthesize
    RIFF PCM16 clips (real stdlib encode) → decode and feature-extract
    (peak, exact Σ|s|, position-weighted checksum) → decimate ×3 →
    re-encode → decode AGAIN. The oracle computes every number from the
    sample closed form and the decimation index map — no codec on the
    oracle side, so agreement proves decode→resample→encode→decode is
    sample-exact for every clip. Arrow-batched kernels, one join on the
    unique media id."""
    from olake_spark.operators.multimodal import (
        extract_audio_features,
        resample_audio,
        synthesize_audio,
    )

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 5 == 0)
    )
    media = synthesize_audio(ids)
    orig = extract_audio_features(media).select(
        "media_id", "n_bytes", "sample_rate", "n_samples",
        "peak", "sum_abs", "sample_checksum",
    )
    res = extract_audio_features(resample_audio(media, 3)).select(
        "media_id",
        F.col("sample_rate").alias("res_rate"),
        F.col("n_samples").alias("res_n_samples"),
        F.col("sample_checksum").alias("res_checksum"),
    )
    return orig.join(res, "media_id")


# assemble 64 hash bits into a SIGNED BIGINT (two's-complement wrap via
# HUGEINT) so the oracle's value equals Spark's long bit-for-bit
def _bits_wrap(pos: str) -> str:
    s = f"sum(bit::HUGEINT * (1::HUGEINT << ({pos})))"
    return (
        f"CASE WHEN {s} >= 9223372036854775808::HUGEINT"
        f" THEN ({s} - 18446744073709551616::HUGEINT)::BIGINT"
        f" ELSE {s}::BIGINT END"
    )


_DHASH_WRAP = _bits_wrap("y*8 + x")


@register(
    "image_dhash",
    f"""
    WITH dims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents WHERE doc_id % 11 = 0
    ), bits AS (
      SELECT d.id, gy.y, gx.x,
             {dhash_bit("d.id", "d")} AS bit
      FROM dims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    )
    SELECT id AS media_id, {_DHASH_WRAP} AS dhash
    FROM bits GROUP BY id
    """,
)
def image_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual difference hash (dHash — the public image
    near-dup key) computed by REAL decode: synthesize mixed BMP/PNG
    images, decode them with the stdlib codec, integer-luma them, NN
    resample to 9x8, and compare neighboring cells into a signed 64-bit
    hash. The oracle rebuilds every bit from the pixel closed form and
    assembles the same two's-complement BIGINT — agreement pins all 64
    bits of every image's hash across both engines and both formats."""
    from olake_spark.operators.multimodal import image_dhash, synthesize_images

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 11 == 0)
    )
    return image_dhash(synthesize_images(ids))


@register(
    "image_phash_dedup",
    f"""
    WITH dims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents WHERE doc_id % 6 = 0
    ), ob AS (
      SELECT d.id, gy.y, gx.x,
             {dhash_bit("d.id", "d")} AS bit
      FROM dims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), cb AS (
      -- the 32x24-resized copy: dHash grid -> copy pixel -> original
      -- pixel, both floor maps composed explicitly (never simplified away)
      SELECT d.id + 100000000 AS id, gy.y, gx.x,
             {dhash_bit("d.id", "d", resized=True)} AS bit
      FROM dims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), all_h AS (
      SELECT id, {_DHASH_WRAP} AS dhash FROM ob GROUP BY id
      UNION ALL
      SELECT id, {_DHASH_WRAP} AS dhash FROM cb GROUP BY id
    )
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.dhash, b.dhash))::INT AS hamming
    FROM all_h a JOIN all_h b ON a.id < b.id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    """,
)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end-to-end: synthesize a corpus, plant a
    rescaled (32x24) copy of every image under a shifted id, decode ALL
    payloads for real, dHash them, and find every pair within Hamming
    distance 6 via the pigeonhole band join (8 byte-bands — lossless for
    hamming < 8, so Spark's banded candidate generation must equal the
    oracle's brute-force all-pairs scan exactly). Demonstrates the
    standard image near-dup pipeline (decode -> dHash -> banded Hamming
    join) with scale-correct shape: one corpus shuffle on (band, value),
    no all-pairs comparison on the Spark side."""
    from olake_spark.operators.multimodal import (
        image_dhash,
        image_near_dups,
        resize_images,
        synthesize_images,
    )

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 6 == 0)
    )
    orig = synthesize_images(ids)
    copies = resize_images(orig, 32, 24).withColumn(
        "media_id", F.col("media_id") + F.lit(100000000)
    )
    hashes = image_dhash(orig.unionByName(copies))
    return image_near_dups(hashes, max_hamming=6)


@register(
    "media_incremental_dedup",
    f"""
    WITH dims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents WHERE doc_id % 6 = 0
    ), ib AS (  -- corpus index: originals
      SELECT d.id, gy.y, gx.x,
             {dhash_bit("d.id", "d")} AS bit
      FROM dims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), idx AS (SELECT id, {_DHASH_WRAP} AS dhash FROM ib GROUP BY id),
    cdims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents WHERE doc_id % 12 = 0
    ), cb AS (  -- new batch part 1: rescaled copies of indexed originals
      SELECT d.id + 100000000 AS id, gy.y, gx.x,
             {dhash_bit("d.id", "d", resized=True)} AS bit
      FROM cdims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), fdims AS (  -- new batch part 2: genuinely fresh images
      SELECT doc_id::BIGINT + 500000000 AS id,
             8 + ((doc_id + 500000000)*7) % 57 AS w,
             8 + ((doc_id + 500000000)*11) % 41 AS h
      FROM documents WHERE doc_id % 6 = 0
    ), fb AS (
      SELECT d.id, gy.y, gx.x,
             {dhash_bit("d.id", "d")} AS bit
      FROM fdims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), newh AS (
      SELECT id, {_DHASH_WRAP} AS dhash FROM cb GROUP BY id
      UNION ALL
      SELECT id, {_DHASH_WRAP} AS dhash FROM fb GROUP BY id
    )
    SELECT n.id AS media_id, n.dhash
    FROM newh n
    WHERE NOT EXISTS (
      SELECT 1 FROM idx i WHERE bit_count(xor(n.dhash, i.dhash)) <= 6
    )
    """,
)
def media_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time media dedup against a persisted perceptual index
    (operators/multimodal.py incremental_phash_dedup — the media twin of
    incremental MinHash dedup): the corpus's dHash index meets a new
    batch that is half rescaled copies of indexed images, half genuinely
    fresh images. The banded batch-x-index join (cost ∝ batch, lossless
    for Hamming < 8) drops the copies; the fresh images survive. The
    oracle brute-forces NOT EXISTS over every (new, index) pair — the
    surviving set and every survivor's 64-bit hash must match exactly."""
    from olake_spark.operators.multimodal import (
        image_dhash,
        incremental_phash_dedup,
        resize_images,
        synthesize_images,
    )

    docs = table(spark, sf_dir, "documents")
    idx_ids = docs.select(F.col("doc_id").cast("long").alias("media_id")).filter(
        F.col("media_id") % 6 == 0
    )
    index = image_dhash(synthesize_images(idx_ids))
    copy_ids = idx_ids.filter(F.col("media_id") % 12 == 0)
    copies = resize_images(synthesize_images(copy_ids), 32, 24).withColumn(
        "media_id", F.col("media_id") + F.lit(100000000)
    )
    fresh = synthesize_images(
        idx_ids.select((F.col("media_id") + F.lit(500000000)).alias("media_id"))
    )
    new_hashes = image_dhash(copies.unionByName(fresh))
    return incremental_phash_dedup(new_hashes, index, max_hamming=6)


@register(
    "webdataset_ingest",
    """
    SELECT (doc_id // 8)::BIGINT AS shard_id,
           printf('%08d', doc_id) AS key,
           md5('doc-' || doc_id || ':' || repeat('ab', doc_id % 17)) AS txt_md5,
           length('doc-' || doc_id || ':' || repeat('ab', doc_id % 17))::BIGINT
             AS txt_size,
           (doc_id % 10)::BIGINT AS cls
    FROM documents
    """,
)
def webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard ingest end-to-end (sources/webdataset.py):
    build REAL POSIX tar shards (8 docs per shard, {key}.txt + {key}.cls
    members, stdlib tarfile), then walk every shard and group members
    into training samples INSIDE the shard kernel — zero shuffle after
    the shard build, because the format guarantees samples never span
    shards. The oracle recomputes every sample's key, text md5/size, and
    label from the member closed forms — agreement proves the tar
    encode -> walk -> sample-grouping pipeline is byte-exact."""
    from olake_spark.sources.webdataset import (
        group_samples,
        synthesize_tar_shards,
    )

    ids = table(spark, sf_dir, "documents").select("doc_id")
    return group_samples(synthesize_tar_shards(ids, docs_per_shard=8))


@register(
    "video_phash_dedup",
    f"""
    WITH params AS (
      SELECT doc_id::BIGINT AS id,
             2 + doc_id % 4 AS nf,
             8 + (doc_id*5) % 17 AS w,
             8 + (doc_id*3) % 13 AS h
      FROM documents WHERE doc_id % 8 = 0
    ), seeds AS (
      SELECT id, w, h, id*131 + 7*(nf//2) AS seed FROM params
    ), ob AS (
      SELECT s.id, gy.y, gx.x,
             {dhash_bit("s.seed", "s")} AS bit
      FROM seeds s, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), cb AS (
      SELECT s.id + 100000000 AS id, gy.y, gx.x,
             {dhash_bit("s.seed", "s", resized=True)} AS bit
      FROM seeds s, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), all_h AS (
      SELECT id, {_DHASH_WRAP} AS vfp FROM ob GROUP BY id
      UNION ALL
      SELECT id, {_DHASH_WRAP} AS vfp FROM cb GROUP BY id
    )
    SELECT a.id AS id_a, b.id AS id_b, a.vfp AS vfp_a,
           bit_count(xor(a.vfp, b.vfp))::INT AS hamming
    FROM all_h a JOIN all_h b ON a.id < b.id
    WHERE bit_count(xor(a.vfp, b.vfp)) <= 6
    """,
)
def video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO dedup — the triad is complete (image dHash, audio
    energy fingerprint, video keyframe hash): synthesize APNG clips,
    plant a per-frame-rescaled (32x24) copy of each under a shifted id,
    decode only the MIDDLE frame of every clip (selective stream decode),
    dHash it, and find pairs within Hamming 6 via the lossless 8-band
    join. The oracle recomputes both keyframe hashes from the frame-seed
    pixel closed form (the copy through the explicitly composed floor
    maps) and brute-forces all pairs — membership plus all 64 bits of
    every paired clip's fingerprint are pinned cross-engine."""
    from olake_spark.operators.multimodal import (
        image_near_dups,
        resize_videos,
        synthesize_videos,
        video_fingerprint,
    )

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 8 == 0)
    )
    media = synthesize_videos(ids)
    copies = resize_videos(media, 32, 24).withColumn(
        "media_id", F.col("media_id") + F.lit(100000000)
    )
    fps = video_fingerprint(media.unionByName(copies)).select("media_id", "vfp")
    # keep_hashes avoids a second full decode pass just to re-attach vfp_a
    pairs = image_near_dups(fps, hash_col="vfp", max_hamming=6, keep_hashes=True)
    return pairs.select("id_a", "id_b", F.col("h_a").alias("vfp_a"), "hamming")


@register(
    "audio_fp_dedup",
    f"""
    WITH params AS (
      SELECT doc_id::BIGINT AS id, 800 + (doc_id*37) % 1600 AS n
      FROM documents WHERE doc_id % 4 = 0
    ), idx AS (
      SELECT id, n, unnest(generate_series(0, n - 1)) AS i FROM params
    ), eo AS (
      SELECT id, (i*65)//n AS w,
             sum(abs({_snd_sql("id", "i")}))::BIGINT AS e
      FROM idx GROUP BY 1, 2
    ), ec AS (
      SELECT id + 100000000 AS id, (i*65)//n AS w,
             sum(abs(3 * ({_snd_sql("id", "i")})))::BIGINT AS e
      FROM idx GROUP BY 1, 2
    ), eall AS (
      SELECT * FROM eo UNION ALL SELECT * FROM ec
    ), bits AS (
      SELECT a.id, a.w AS pos,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      FROM eall a JOIN eall b ON a.id = b.id AND b.w = a.w + 1
      WHERE a.w < 64
    ), fps AS (
      SELECT id, {_bits_wrap("pos")} AS afp FROM bits GROUP BY id
    )
    SELECT a.id AS id_a, b.id AS id_b, a.afp AS afp_a,
           bit_count(xor(a.afp, b.afp))::INT AS hamming
    FROM fps a JOIN fps b ON a.id < b.id
    WHERE bit_count(xor(a.afp, b.afp)) <= 6
    """,
)
def audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup — near-dup keys now span all three
    modalities: synthesize WAV clips, plant a 3x-amplified re-encode of
    each under a shifted id, decode everything for real, compute the
    64-bit energy fingerprint (65 windows by w=(i*65)//n, bit =
    energy[w+1] > energy[w]; amplitude-scale invariant by construction),
    and find pairs within Hamming 6 via the same lossless 8-band
    pigeonhole join as the image family. The oracle recomputes both
    fingerprints from the sample closed form (the copy's energies from
    scratch with the explicit 3x term, never the algebraic shortcut) and
    brute-forces all pairs — pair membership AND all 64 bits of every
    paired clip's fingerprint are pinned cross-engine."""
    from olake_spark.operators.multimodal import (
        amplify_audio,
        audio_fingerprint,
        image_near_dups,
        synthesize_audio,
    )

    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") % 4 == 0)
    )
    media = synthesize_audio(ids)
    copies = amplify_audio(media, 3).withColumn(
        "media_id", F.col("media_id") + F.lit(100000000)
    )
    fps = audio_fingerprint(media.unionByName(copies))
    # keep_hashes: the band join already carries each side's fingerprint,
    # so no second decode pass / re-join is needed to surface afp_a
    pairs = image_near_dups(fps, hash_col="afp", max_hamming=6, keep_hashes=True)
    return pairs.select("id_a", "id_b", F.col("h_a").alias("afp_a"), "hamming")


# ---------------------------------------------------------------------------
# WebDataset WRITE planner (sources/webdataset.py wds_write_plan)
# ---------------------------------------------------------------------------

_WDS_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, strlen(text)::BIGINT AS sz,
             {_BUCKET_SQL.format(x="doc_id::VARCHAR || 'wds'")} AS h
      FROM documents
    ),
    cum AS (
      SELECT doc_id, sz, h, (h % 4)::INT AS stream,
             coalesce(sum(sz) OVER (
               PARTITION BY h % 4 ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_before
      FROM t
    )
    SELECT doc_id, stream,
           (cum_before // 4096)::BIGINT AS shard_seq,
           (cum_before % 4096)::BIGINT AS offset_bytes
    FROM cum
    """


@register("webdataset_write_plan", _WDS_ORACLE)
def webdataset_write_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard-WRITE assignment (sources/webdataset.py
    wds_write_plan): documents hash into 4 writer streams, lay
    head-to-tail in (hash, key) order, and cut a new tar shard every
    4096 payload bytes — samples never split, shards overrun by at most
    one sample. Same two-level prefix-sum dataflow as pack_offsets (one
    shuffle, one window per stream, no global sort); the oracle pins
    every (stream, shard_seq, offset_bytes). The actual tar bytes
    (wds_build_shards) round-trip through the ingest kernels in
    tests/test_webdataset.py."""
    from olake_spark.sources.webdataset import wds_write_plan

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("sz")
    )
    plan = wds_write_plan(docs, "doc_id", "sz", shard_bytes=4096, n_streams=4)
    return plan.select("doc_id", "stream", "shard_seq", "offset_bytes")


# ---------------------------------------------------------------------------
# end-to-end media curation pipeline (the media twin of
# curate_incremental_pipeline): WebDataset ingest → real decode →
# perceptual dedup → quality gate → WebDataset re-shard write plan
# ---------------------------------------------------------------------------

_MEDIA_CURATE_ORACLE = f"""
    WITH odims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents WHERE doc_id % 6 = 0
    ), ob AS (
      SELECT d.id, gy.y, gx.x,
             {dhash_bit("d.id", "d")} AS bit
      FROM odims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), cdims AS (
      SELECT doc_id::BIGINT AS id, 8 + (doc_id*7) % 57 AS w, 8 + (doc_id*11) % 41 AS h
      FROM documents WHERE doc_id % 12 = 0
    ), cb AS (
      SELECT d.id + 100000000 AS id, gy.y, gx.x,
             {dhash_bit("d.id", "d", resized=True)} AS bit
      FROM cdims d, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
    ), allm AS (
      SELECT o.id, o.dhash, d.w, d.h
      FROM (SELECT id, {_DHASH_WRAP} AS dhash FROM ob GROUP BY id) o
      JOIN odims d ON d.id = o.id
      UNION ALL
      SELECT id, dhash, 32 AS w, 24 AS h
      FROM (SELECT id, {_DHASH_WRAP} AS dhash FROM cb GROUP BY id)
    ), losers AS (
      SELECT DISTINCT b.id FROM allm a JOIN allm b ON a.id < b.id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    ), kept AS (
      SELECT * FROM allm
      WHERE id NOT IN (SELECT id FROM losers) AND w >= 16 AND h >= 16
    ), plan AS (
      SELECT id, dhash, w, h,
             {_BUCKET_SQL.format(x="printf('%08d', id) || 'wds'")} AS hh,
             printf('%08d', id) AS key, (3*w*h)::BIGINT AS sz
      FROM kept
    ), cum AS (
      SELECT id, dhash, w, h, (hh % 2)::INT AS stream,
             coalesce(sum(sz) OVER (
               PARTITION BY hh % 2 ORDER BY hh, key
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_before
      FROM plan
    )
    SELECT id AS media_id, w::INT AS width, h::INT AS height, dhash, stream,
           (cum_before // 8192)::BIGINT AS shard_seq,
           (cum_before % 8192)::BIGINT AS offset_bytes
    FROM cum
    """


@register("media_curation_pipeline", _MEDIA_CURATE_ORACLE)
def media_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal curation flow composed END-TO-END as one lazy
    plan — the media twin of curate_incremental_pipeline: real tar shards
    carrying real BMP payloads (with planted 32×24 rescaled copies under
    shifted ids) are ingested (sources/webdataset.py untar_media, zero
    post-read shuffle), every payload is DECODED for real (stdlib codec),
    dHashed, near-dup'd via the lossless 8-band Hamming join (copies lose
    to their smaller-id originals), quality-gated on the DECODED
    dimensions (min(w, h) ≥ 16), and the survivors are assigned to output
    WebDataset shards by the two-level prefix-sum write planner. The
    oracle pins the surviving sample set AND every survivor's (stream,
    shard_seq, offset) from closed forms — interface drift between any
    two stages fails the query."""
    from olake_spark.operators.multimodal import (
        extract_features,
        image_dhash,
        image_near_dups,
    )
    from olake_spark.sources.webdataset import (
        synthesize_media_tar_shards,
        untar_media,
        wds_write_plan,
    )

    docs = table(spark, sf_dir, "documents")
    orig_ids = docs.select(F.col("doc_id").cast("long").alias("media_id")).filter(
        F.col("media_id") % 6 == 0
    )
    copy_ids = orig_ids.filter(F.col("media_id") % 12 == 0).select(
        (F.col("media_id") + F.lit(100_000_000)).alias("media_id")
    )
    shards = synthesize_media_tar_shards(orig_ids.unionByName(copy_ids))
    media = untar_media(shards)
    feats = extract_features(media)
    hashes = image_dhash(media)
    losers = image_near_dups(hashes, max_hamming=6).select(
        F.col("id_b").alias("media_id")
    ).distinct()
    kept = (
        hashes.join(losers, "media_id", "left_anti")
        .join(feats.select("media_id", "width", "height"), "media_id")
        .filter((F.col("width") >= 16) & (F.col("height") >= 16))
    )
    plan = wds_write_plan(
        kept.select(
            "media_id", "dhash", "width", "height",
            F.format_string("%08d", F.col("media_id")).alias("_key"),
            (3 * F.col("width") * F.col("height")).cast("long").alias("_sz"),
        ),
        "_key", "_sz", shard_bytes=8192, n_streams=2,
    )
    return plan.select(
        "media_id", "width", "height", "dhash", "stream", "shard_seq",
        "offset_bytes",
    )
