"""Unit tests for training-data operators on small planted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olake_spark.operators import dedup as dd
from olake_spark.operators import similarity as sim
from olake_spark.operators import text as tx
from olake_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  quick   brown fox jumps over the lazy dog"),  # dup modulo case/ws
        (3, "der hund und die katze ist hier und der vogel"),
        (4, "el gato y el perro y la casa es grande y bonita"),
        (5, "completely different words entirely unrelated zebra quantum"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    got = {r.doc_id: r.n_tokens for r in tx.with_token_count(docs).collect()}
    assert got[1] == 9
    assert got[2] == 9  # multi-space runs are one separator
    assert got[6] == 0  # empty text → 0 tokens, not 1


def test_quality_bounds(spark, docs):
    rows = tx.with_quality_features(docs).collect()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].stopword_ratio > by_id[5].stopword_ratio  # 'the' x2 vs none


def test_lang_id(spark, docs):
    zh = spark.createDataFrame([(7, "这是一个中文句子")], "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in tx.with_lang_id(docs.union(zh)).collect()}
    assert got[1] == "en"
    assert got[3] == "de"
    assert got[4] == "es"
    assert got[5] == "und"  # no markers
    assert got[7] == "zh"  # CJK fast path


def test_fingerprint_normalization(spark, docs):
    got = {r.doc_id: r.fingerprint for r in tx.with_fingerprint(docs).collect()}
    assert got[1] == got[2]  # case/whitespace-invariant
    assert got[1] != got[3]


def test_exact_dedup(spark, docs):
    out = dd.exact_dedup(docs, "doc_id", "text").collect()
    groups = {r.representative: r.n_dupes for r in out}
    assert groups[1] == 2  # docs 1,2 collapse
    assert sum(groups.values()) == 6


def test_minhash_identical_docs(spark, docs):
    pairs = dd.minhash_near_dups(docs, "doc_id", "text", threshold=0.99).collect()
    assert [(p.id_a, p.id_b, p.est_jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_identical_docs(spark, docs):
    pairs = {(p.id_a, p.id_b): p.hamming for p in dd.simhash_near_dups(docs, "doc_id", "text", 3).collect()}
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard(spark, docs):
    pairs = {(p.id_a, p.id_b): p.jaccard for p in dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert all(a < b for a, b in pairs)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),  # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vecs):
    out = sim.brute_force_topk(vecs.filter(F.col("vec_id") == 1), vecs, k=3, dim=4).collect()
    ranked = [(r.rank, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == (1, 2)  # closest
    assert ranked[-1] == (3, 4)  # opposite vector ranks last
    assert out[0].cosine_sim <= 1.0


def test_lsh_same_vector_same_bucket(spark):
    # identical vectors must land in the same bucket → self pair found
    rows = [(1, [0.5] * 64), (2, [0.5] * 64), (3, [-0.5] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = sim.cosine_near_dup_pairs(df, threshold=0.99).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_multimodal_plumbing(spark, docs):
    media = attach_binary_payload(docs.filter("doc_id <= 2"), "text", "doc_id")
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[1].n_bytes == len("the quick brown fox jumps over the lazy dog")
    assert len(feats[1].content_hash) == 32
    # text bytes are not an image: NULL dims surfaced, never fabricated
    assert feats[1].format is None and feats[1].width is None
    assert feats[1].pix_checksum is None
    # ...and not a video either: one surfaced NULL row per payload
    frames = sample_frames(media).collect()
    assert {r.media_id for r in frames} == {1, 2}
    assert all(r.n_frames is None and r.frame_idx is None for r in frames)


def test_multimodal_real_video_frames(spark):
    """sample_frames decodes REAL APNG clips: per sampled frame, true
    dims + pixel checksums match a driver-side reference decode."""
    from olake_spark.functions import imagecodec as ic
    from olake_spark.operators.multimodal import (
        sample_frames,
        synth_frame_seed,
        synth_pixels,
        synth_video_params,
        synthesize_videos,
    )

    ids = spark.range(1, 7).withColumnRenamed("id", "media_id")
    rows = sample_frames(synthesize_videos(ids), every_n=2).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid in range(1, 7):
        nf, w, h = synth_video_params(mid)
        got = sorted(by_media[mid], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == list(range(0, nf, 2))
        for r in got:
            assert (r.n_frames, r.width, r.height) == (nf, w, h)
            expect = synth_pixels(synth_frame_seed(mid, r.frame_idx), w, h)
            assert r.pix_checksum == ic.pixel_checksum(expect)


def test_multimodal_real_decode_kernel(spark):
    """extract_features decodes REAL pixels: synthesized BMP/PNG images
    round-trip through the Arrow batch path with exact dims + checksums."""
    import numpy as np

    from olake_spark.functions import imagecodec as ic
    from olake_spark.operators.multimodal import (
        synth_dims,
        synth_pixels,
        synthesize_images,
    )

    ids = spark.range(1, 9).withColumnRenamed("id", "media_id")
    feats = {
        r.media_id: r
        for r in extract_features(synthesize_images(ids)).collect()
    }
    assert len(feats) == 8
    for mid, r in feats.items():
        w, h = synth_dims(mid)
        assert (r.width, r.height) == (w, h)
        assert r.format == ("bmp" if mid % 2 == 0 else "png")
        assert r.pix_checksum == ic.pixel_checksum(synth_pixels(mid, w, h))
        if r.format == "bmp":
            assert r.n_bytes == 54 + h * ((3 * w + 3) // 4 * 4)
    # resize then re-decode: pixels match a driver-side reference resize
    from olake_spark.operators.multimodal import resize_images

    res = {
        r.media_id: r
        for r in extract_features(
            resize_images(synthesize_images(ids), 24, 16)
        ).collect()
    }
    for mid, r in res.items():
        w, h = synth_dims(mid)
        expect = ic.resize_nearest(synth_pixels(mid, w, h), 24, 16)
        assert (r.width, r.height) == (24, 16)
        assert r.pix_checksum == ic.pixel_checksum(expect)


def test_ngram_jaccard_df_cap_bounds_hot_ngram(spark):
    # 40 docs all sharing one boilerplate trigram; unique tails otherwise.
    # Uncapped, the hot n-gram alone yields C(40,2)=780 candidate pairs;
    # with max_df=10 it is inadmissible and no pair survives.
    rows = [
        (i, f"shared boilerplate phrase unique{i} tail{i} word{i}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.01)
    capped = dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.01, max_df=10)
    assert uncapped.count() == 780
    assert capped.count() == 0
    # the cap leaves genuinely-similar pairs intact when their overlap is
    # below the df threshold
    few = spark.createDataFrame(rows[:5], "doc_id long, text string")
    assert dd.ngram_jaccard_pairs(few, "doc_id", "text", 3, 0.01, max_df=10).count() == 10


def test_lsh_banded_tables_deterministic_and_distinct():
    t1 = sim.lsh_planes(2, 8)
    assert t1 == sim.lsh_planes(2, 8)  # seeded → reproducible
    assert t1[0] != t1[1]  # tables are independent planes
    assert sim.lsh_planes(1, 8)[0] == sim.LSH_PLANES


def test_lsh_bucket_count_grows_with_planes(spark):
    # the old fixed-8-plane design capped the corpus at 256 buckets; banded
    # LSH exposes n_planes so bucket granularity scales with corpus size.
    # Codegen OFF for this test only: the 12-plane 64-dim band expression
    # blows Janino's 64KB method limit, so whole-stage codegen spends ~10s
    # COMPILING, FAILS, and falls back to interpreted anyway — skip
    # straight to interpreted (measured 40.9s -> 18.6s cold)
    prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        tables_coarse = sim.lsh_planes(1, 6)
        tables_fine = sim.lsh_planes(1, 12)
        n_coarse = (
            emb.select(F.explode(sim.lsh_bands("embedding", tables_coarse)).alias("b"))
            .select("b.sig").distinct().count()
        )
        n_fine = (
            emb.select(F.explode(sim.lsh_bands("embedding", tables_fine)).alias("b"))
            .select("b.sig").distinct().count()
        )
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)
    assert n_coarse <= 64
    assert n_fine > n_coarse  # granularity is no longer pinned


def test_lsh_multi_table_union_recall(spark):
    # candidates from L=2 tables are a superset of table-0's candidates
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = {
        (r.id_a, r.id_b)
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.0, n_tables=1).collect()
    }
    two = {
        (r.id_a, r.id_b)
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.0, n_tables=2).collect()
    }
    assert one <= two
    assert len(two) >= len(one)


def test_ivf_train_centroids_separates_blobs(spark):
    import random

    rng = random.Random(7)
    rows = []
    # three well-separated blobs along orthogonal axes of a 64-dim space
    for i in range(90):
        axis = i % 3
        v = [rng.uniform(-0.05, 0.05) for _ in range(64)]
        v[axis] += 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = sim.ivf_train_centroids(df, k=3, iters=4)
    got = cents.collect()
    assert len(got) == 3
    assert all(len(r["_cent_v"]) == 64 for r in got)
    # every trained centroid points dominantly along one distinct axis
    dominant = sorted(max(range(64), key=lambda d: r["_cent_v"][d]) for r in got)
    assert dominant == [0, 1, 2]
    # assignment with the trained centroids is pure: each blob maps to one cell
    assigned = sim.ivf_assign(
        df.selectExpr("vec_id as _vid", "embedding as _vv"), cents, "_vid", "_vv"
    ).collect()
    cells_by_axis = {}
    for r in assigned:
        cells_by_axis.setdefault(r["_vid"] % 3, set()).add(r["_cell"])
    assert all(len(cells) == 1 for cells in cells_by_axis.values())
    assert len(set().union(*cells_by_axis.values())) == 3


def test_connected_components_chain_and_singletons(spark):
    # a 10-node chain (worst-case diameter), one triangle, and singletons
    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    chain = [(i, i + 1) for i in range(9)]          # 0-1-2-...-9
    tri = [(12, 15), (15, 17), (12, 17)]            # {12,15,17}
    pairs = spark.createDataFrame(chain + tri, "id_a long, id_b long")
    out = {r.doc_id: r.cluster_id for r in dd.connected_components(ids, pairs).collect()}
    assert all(out[i] == 0 for i in range(10))      # chain collapses to min
    assert out[12] == out[15] == out[17] == 12
    for lone in (10, 11, 13, 14, 16, 18, 19):
        assert out[lone] == lone                    # singletons self-label
    # pointer jumping keeps rounds low even for the chain: bound ~log2(10)+2
    # (would be 10+ rounds with plain one-hop propagation)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # cluster mode: checkpoint_dir swaps localCheckpoint (executor-local
    # blocks, lost on executor death) for reliable file checkpoints. The
    # result must match, checkpoint files must actually exist, and the
    # returned frame must still evaluate after EVERY persisted block is
    # dropped (the local-mode stand-in for losing an executor).
    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    chain = [(i, i + 1) for i in range(9)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    ckdir = str(tmp_path / "cc_ck")
    out = dd.connected_components(ids, pairs, checkpoint_dir=ckdir)
    expected = {r.doc_id: r.cluster_id for r in out.collect()}
    assert all(expected[i] == 0 for i in range(10))
    import os

    assert any(files for _, _, files in os.walk(ckdir)), "no checkpoint files"
    # drop all persisted RDD blocks; reliable checkpoints re-read from disk
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist(True)
    again = {r.doc_id: r.cluster_id for r in out.collect()}
    assert again == expected


def test_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    clusters = dd.connected_components(docs.select("doc_id"), pairs)
    kept = sorted(r.doc_id for r in dd.keep_canonical(docs, clusters).collect())
    assert kept == [0, 1, 2, 4]  # 3 and 5 fold into cluster 0


def test_drop_duplicate_lines_semantics(spark):
    from olake_spark.operators.dedup import drop_duplicate_lines

    boiler = "Subscribe Now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n{boiler}\n\nbody 1"),
            (2, f"beta two\n{boiler}\nbody 2"),
            (3, f"gamma three\nsubscribe now \nbody 3"),  # case/space variant
            (4, ""),  # empty doc survives as empty
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in
           drop_duplicate_lines(docs, "doc_id", "text", max_line_df=2).collect()}
    # the boilerplate line appears in 3 docs (normalized) -> dropped everywhere
    assert out[1]["text"] == "alpha one\n\nbody 1"  # blank line untouched
    assert out[2]["text"] == "beta two\nbody 2"
    assert out[3]["text"] == "gamma three\nbody 3"
    assert out[1]["n_dropped"] == 1 and out[3]["n_dropped"] == 1
    # empty doc: its single empty "line" is never counted, never dropped
    assert out[4]["text"] == "" and out[4]["n_dropped"] == 0
    # unique lines keep their relative order
    assert out[1]["text"].splitlines()[0] == "alpha one"


def test_multimodal_resize_preserves_schema_and_extra_columns(spark):
    """resize_images derives its output schema from the INPUT frame: extra
    columns survive untouched (the round-4 fixed-schema kernel silently
    dropped them), undecodable payloads pass through byte-identical with a
    surfaced marker instead of failing the batch, and real images come
    back actually resized."""
    import json

    from olake_spark.functions import imagecodec as ic
    from olake_spark.operators.multimodal import resize_images, synth_pixels

    img = ic.encode_png(synth_pixels(5, 10, 8))
    rows = [
        (1, bytearray(img), "image", "{}", "keep-me-1"),
        (2, bytearray(b"not an image"), "blob", "{}", "keep-me-2"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, media_type string, "
              "meta string, extra string"
    )
    out = resize_images(media, 4, 4)
    assert out.schema == media.schema  # derived, not a fixed literal
    got = {r.media_id: r for r in out.collect()}
    assert got[1].extra == "keep-me-1" and got[2].extra == "keep-me-2"
    # the image is genuinely 4×4 now
    resized = ic.decode_image(bytes(got[1].payload))
    assert resized.shape == (4, 4, 3)
    assert json.loads(got[1].meta)["fmt"] == "png"
    # poison payload: unchanged bytes, loud meta marker, no stage failure
    assert bytes(got[2].payload) == b"not an image"
    assert json.loads(got[2].meta) == {"resize": "undecodable"}


def test_zero_frame_apng_surfaces_null_row(spark):
    """An APNG whose acTL declares 0 frames is poison: sample_frames must
    emit one NULL-field row for it, never silently drop the media_id
    (regression — decode_apng used to return [])."""
    import struct as _struct

    from olake_spark.functions import imagecodec as ic
    from olake_spark.operators.multimodal import sample_frames, synth_pixels

    png = ic.encode_png(synth_pixels(1, 4, 4))

    def chunk(tag, body):
        import zlib as _z
        return (
            _struct.pack(">I", len(body)) + tag + body
            + _struct.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        png[:8]
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"acTL", _struct.pack(">II", 0, 0))
        + png[png.index(b"IDAT") - 4 : png.index(b"IEND") - 4]
        + chunk(b"IEND", b"")
    )
    media = spark.createDataFrame(
        [(7, data, "video", None)],
        "media_id long, payload binary, media_type string, meta string",
    )
    rows = sample_frames(media).collect()
    assert len(rows) == 1 and rows[0].media_id == 7
    assert rows[0].n_frames is None and rows[0].frame_idx is None


def test_image_dhash_properties(spark):
    """dHash contracts: (a) exact 2x NN upscale preserves the hash
    bit-for-bit (floor-map composition), (b) global brightness shift
    without clipping preserves it, (c) the banded Hamming join equals a
    brute-force all-pairs scan (pigeonhole losslessness), (d) poison
    payloads surface NULL hashes and never enter buckets."""
    import itertools

    import numpy as np

    from olake_spark.functions import imagecodec as ic
    from olake_spark.operators.multimodal import (
        dhash_of,
        image_dhash,
        image_near_dups,
        synth_dims,
        synth_pixels,
        synthesize_images,
    )

    arr = synth_pixels(3, *synth_dims(3))
    h0 = dhash_of(arr)
    # (a) 2x upscale: floor(floor(n/9)/2) == floor(n/18) → identical hash
    up = ic.resize_nearest(arr, arr.shape[1] * 2, arr.shape[0] * 2)
    assert dhash_of(up) == h0
    # (b) brightness shift (no clipping: values stay < 206+40)
    small = np.minimum(arr, 200)
    assert dhash_of(np.clip(small.astype(np.int64) + 40, 0, 255).astype(np.uint8)) == dhash_of(small)
    # (c) banded join == brute force on a real corpus slice
    ids = spark.range(0, 40).select(F.col("id").alias("media_id"))
    hashes = image_dhash(synthesize_images(ids))
    rows = {r.media_id: r.dhash for r in hashes.collect()}
    brute = sorted(
        (a, b, bin(rows[a] ^ rows[b]).count("1"))
        for a, b in itertools.combinations(sorted(rows), 2)
        if bin(rows[a] ^ rows[b]).count("1") <= 6
    )
    banded = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in image_near_dups(hashes, max_hamming=6).collect()
    )
    assert banded == brute
    # (d) poison: NULL hash surfaced, excluded from pairing
    media = spark.createDataFrame(
        [(1, None, "image", None), (2, b"not-an-image", "image", None)],
        "media_id long, payload binary, media_type string, meta string",
    )
    hs = image_dhash(media).collect()
    assert all(r.dhash is None for r in hs)
    assert image_near_dups(image_dhash(media)).count() == 0
    # pigeonhole precondition enforced
    with pytest.raises(ValueError, match="pigeonhole"):
        image_near_dups(hashes, max_hamming=8)


def test_exact_substr_spans_and_strip(spark):
    """ExactSubstr family on a planted fixture: span boundaries are
    maximal+exact, and the strip pass removes every duplicated span
    except the canonical (min doc_id) occurrence."""
    from olake_spark.operators import dedup as xd

    rows = [
        (1, "a b c d e f g h unique1 tail1"),
        (2, "x y a b c d e f g h z unique2"),  # shares an 8-token run with 1
        (3, "totally different words here only five six seven"),
        (4, "x y a b c d e f g h z unique2"),  # exact dup of 2
        (5, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len, r.n_grams)
        for r in xd.duplicate_spans(df, "doc_id", "text", min_len=5).collect()
    )
    # doc1: grams p=1..4 duplicated -> span [1,8]; docs 2/4: all 8 grams
    assert spans == [(1, 1, 8, 8, 4), (2, 1, 12, 12, 8), (4, 1, 12, 12, 8)]
    out = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in xd.strip_duplicate_spans(df, "doc_id", "text", min_len=5).collect()
    }
    # doc1 is canonical for the shared run (keeps it, absent from output);
    # doc2 loses the run but keeps its own unique tokens; doc4 (loser of
    # both gram families) is fully stripped
    assert set(out) == {2, 4}
    assert out[2] == ("x y z unique2", 8)
    assert out[4] == ("", 12)
    # max_df drops boilerplate grams from span generation
    many = [(i, "stop phrase every doc shares verbatim plus %d" % i) for i in range(20)]
    mdf = spark.createDataFrame(many, "doc_id long, text string")
    assert xd.duplicate_spans(mdf, "doc_id", "text", 5, 2, max_df=10).count() == 0
    assert xd.duplicate_spans(mdf, "doc_id", "text", 5, 2).count() == 20


def test_video_fingerprint_keyframe_and_dedup(spark):
    """Video keyframe hash: equals the middle frame's dHash computed
    driver-side; per-frame-rescaled copies pair up through the banded
    join; poison surfaces NULL."""
    from olake_spark.operators.multimodal import (
        dhash_of,
        image_near_dups,
        resize_videos,
        synth_frame_seed,
        synth_pixels,
        synth_video_params,
        synthesize_videos,
        video_fingerprint,
    )

    ids = spark.range(1, 7).withColumnRenamed("id", "media_id")
    media = synthesize_videos(ids)
    got = {r.media_id: (r.n_frames, r.vfp) for r in video_fingerprint(media).collect()}
    for mid in range(1, 7):
        nf, w, h = synth_video_params(mid)
        mid_frame = synth_pixels(synth_frame_seed(mid, nf // 2), w, h)
        assert got[mid] == (nf, dhash_of(mid_frame))
    # rescaled copies (32x24 per frame, the real resize path) pair with
    # their originals through the banded join at small hamming
    copies = resize_videos(media, 32, 24)
    assert copies.count() == 6
    fps = video_fingerprint(media).select("media_id", "vfp")
    fps2 = video_fingerprint(
        copies.withColumn("media_id", F.col("media_id") + 100)
    ).select("media_id", "vfp")
    pairs = image_near_dups(fps.unionByName(fps2), hash_col="vfp", max_hamming=6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every original should pair with its rescaled copy (tiny dims make
    # the composed-grid hash drift small)
    assert sum((m, m + 100) in found for m in range(1, 7)) >= 4
    bad = spark.createDataFrame(
        [(9, None, "video", None)],
        "media_id long, payload binary, media_type string, meta string",
    )
    assert video_fingerprint(bad).collect()[0].vfp is None


def test_incremental_phash_dedup_batch_vs_index(spark):
    """Ingest-time media dedup: exact copies in the batch are dropped
    against the index, fresh images survive, and the banded path equals
    a brute-force driver-side check."""
    from olake_spark.operators.multimodal import (
        image_dhash,
        incremental_phash_dedup,
        synthesize_images,
    )

    idx_ids = spark.range(0, 20).withColumnRenamed("id", "media_id")
    index = image_dhash(synthesize_images(idx_ids))
    # batch: ids 0..9 re-synthesized under shifted ids (exact pixel dups
    # -> hamming 0) plus 10 fresh images
    dup_batch = synthesize_images(
        spark.range(0, 10).select((F.col("id")).alias("media_id"))
    ).withColumn("media_id", F.col("media_id") + 1000)
    # trick: payload pixels derive from the PRE-shift id, so these are
    # exact perceptual dups of indexed images under new ids
    fresh = synthesize_images(
        spark.range(700, 710).withColumnRenamed("id", "media_id")
    )
    batch_hashes = image_dhash(dup_batch.unionByName(fresh))
    survivors = incremental_phash_dedup(batch_hashes, index, max_hamming=2)
    got = sorted(r.media_id for r in survivors.collect())
    # every 1000-shifted dup must be gone; fresh survive unless they
    # naturally collide with the 20-image index at hamming<=2
    idx_hashes = {r.dhash for r in index.collect()}
    expect = []
    for r in batch_hashes.collect():
        if all(bin(r.dhash ^ h).count("1") > 2 for h in idx_hashes):
            expect.append(r.media_id)
    assert got == sorted(expect)
    assert all(m >= 700 for m in got) and not any(1000 <= m < 1010 for m in got)


# -- connected_components NULL edge endpoints -------------------------------


def test_cc_null_pairs_dropped(spark):
    from olake_spark.operators.dedup import connected_components

    ids = spark.range(1, 6).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 4)], "a bigint, b bigint"
    )
    out = {r.doc_id: r.cluster_id for r in
           connected_components(ids, pairs, "doc_id", "a", "b").collect()}
    assert out[1] == out[2]  # the real edge
    assert out[4] == 4 and out[5] == 5  # NULL edges did not link anything


def test_cc_int32_ids_supported(spark):
    """int32 id columns are lossless and must take the driver fast path
    (the first dtype guard rejected anything non-int64)."""
    from olake_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id int")
    pairs = spark.createDataFrame([(1, 2)], "a int, b int")
    out = {r.doc_id: r.cluster_id
           for r in connected_components(ids, pairs, "doc_id", "a", "b").collect()}
    assert out[1] == out[2] and out[3] == 3
