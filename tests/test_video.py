"""The MJPEG-in-MP4 video family (llm/video.py): real JPEG frames
inside a real ISO BMFF container, keyframe decode driven by the
parsed sample table, perceptual-hash near-dup over decoded pixels.

Pins the contracts the rows-only near-dup query relies on: frame
round-trip fidelity (decode within ±2 of source bytes), manifest
arithmetic (offsets slice the exact JPEG blobs back out), both
failure planes (container-corrupt => no rows; sample-corrupt =>
error row, siblings unaffected), planted-twin recall at hamming 0,
and the score contract (partial-frame matches don't pair at
min_match_frac=1)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import video as V
from etl_procedure_codes_crawler_spark.llm.jpeg import decode_jpeg
from etl_procedure_codes_crawler_spark.llm.multimodal import parse_mp4


def _docs(spark, n=60):
    return spark.createDataFrame(
        [
            (i, f"clip number {i} frame payload words " * (i % 9 + 2), "src")
            for i in range(1, n + 1)
        ],
        "doc_id long, text string, source string",
    )


class TestMjpegContainer:
    def test_frames_roundtrip_through_container_and_decoder(self):
        text = "alpha bravo charlie delta echo foxtrot golf hotel " * 4
        data = text.encode()
        nf = min(V.VIDEO_MAX_FRAMES, max(1, len(text.split())))
        chunks = V._frame_chunks(data, nf)
        assert b"".join(chunks) == data
        frames = [V.encode_frame_jpeg(c) for c in chunks]
        payload = V.build_mp4_samples(frames, codec=b"jpeg")
        info = parse_mp4(payload)
        (t,) = info["tracks"]
        assert t["n_samples_stts"] == nf
        assert t["sample_sizes"] == [len(f) for f in frames]
        assert info["mdat_bytes"] == sum(len(f) for f in frames)
        # manifest arithmetic slices the exact JPEG blobs back out,
        # and the real decoder recovers the padded chunk within ±2
        base = t["chunk_offsets"][0]
        prefix = [0]
        for s in t["sample_sizes"]:
            prefix.append(prefix[-1] + s)
        for kf in t["keyframes"]:
            blob = payload[
                base + prefix[kf - 1] : base + prefix[kf - 1]
                + t["sample_sizes"][kf - 1]
            ]
            assert blob == frames[kf - 1]
            w, h, c, pix = decode_jpeg(blob)
            chunk = chunks[kf - 1]
            assert (w, c) == (V.VIDEO_FRAME_WIDTH, 1)
            assert h == max(1, -(-len(chunk) // V.VIDEO_FRAME_WIDTH))
            assert all(
                abs(a - b) <= 2 for a, b in zip(pix[: len(chunk)], chunk)
            )

    def test_empty_and_single_token_texts_build_valid_clips(self):
        for text in ("", "one"):
            data = text.encode()
            nf = min(V.VIDEO_MAX_FRAMES, max(1, len(text.split())))
            frames = [
                V.encode_frame_jpeg(c) for c in V._frame_chunks(data, nf)
            ]
            info = parse_mp4(V.build_mp4_samples(frames, codec=b"jpeg"))
            assert info["tracks"][0]["keyframes"] == [1]

    def test_build_mp4_samples_rejects_degenerate_input(self):
        with pytest.raises(ValueError):
            V.build_mp4_samples([], codec=b"jpeg")
        with pytest.raises(ValueError):
            V.build_mp4_samples([b"x"], codec=b"toolong4cc")


class TestVideoKeyframeHashes:
    def test_failure_planes_and_hash_rows(self, spark):
        docs = _docs(spark, 60)
        kf = V.video_keyframe_hashes(
            V.documents_as_mjpeg_mp4(docs)
        ).localCheckpoint(eager=True)
        by_vid = {
            r.media_id: r.cnt
            for r in kf.groupBy("media_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        # container-corrupt doc 50 contributes NO rows
        assert 50 not in by_vid
        assert set(by_vid) == {i for i in range(1, 61) if i != 50}
        # sample-corrupt doc 37: first keyframe is an error row with
        # NULL phash; its sibling keyframes decode normally
        errs = kf.filter(F.col("decode_error").isNotNull()).collect()
        assert {(r.media_id, r.sample_no) for r in errs} == {(37, 1)}
        assert all(r.phash is None for r in errs)
        ok37 = kf.filter(
            (F.col("media_id") == 37) & F.col("phash").isNotNull()
        ).collect()
        assert [r.sample_no for r in ok37] == [6]
        # decoded dims come from the frame headers
        assert (
            kf.filter(F.col("phash").isNotNull())
            .filter(F.col("width") != V.VIDEO_FRAME_WIDTH)
            .count()
            == 0
        )

    def test_unknown_method_raises(self, spark):
        with pytest.raises(ValueError):
            V.video_keyframe_hashes(
                V.documents_as_mjpeg_mp4(_docs(spark, 3)), method="md5"
            )


class TestVideoNearDup:
    def test_planted_twins_found_at_full_score(self, spark):
        docs = _docs(spark, 60)
        twins = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000)
        )
        kf = V.video_keyframe_hashes(
            V.documents_as_mjpeg_mp4(docs.unionByName(twins))
        ).localCheckpoint(eager=True)
        pairs = V.video_near_dup_pairs(kf, max_hamming=3)
        found = {
            (r.video_a, r.video_b): (r.n_matched, r.score)
            for r in pairs.collect()
        }
        # every twin is byte-identical => every keyframe at hamming 0
        for t in (7, 14, 21, 28, 35, 42, 49, 56):
            n_matched, score = found[(t, t + 1000)]
            assert score == 1.0
            assert n_matched >= 1
        # corrupt container (50) never pairs; twin ids stay canonical
        assert not any(50 in p for p in found)
        assert all(a < b for a, b in found)

    def test_sample_corrupt_twin_still_matches_on_surviving_frames(
        self, spark
    ):
        # doc 37 is sample-corrupt (first keyframe dead) but its twin
        # (id 1037) is not: the pair must still match via keyframe 6
        docs = _docs(spark, 60)
        twins = docs.filter(F.col("doc_id") == 37).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000)
        )
        kf = V.video_keyframe_hashes(
            V.documents_as_mjpeg_mp4(docs.unionByName(twins))
        ).localCheckpoint(eager=True)
        pairs = {
            (r.video_a, r.video_b): r.n_matched
            for r in V.video_near_dup_pairs(kf).collect()
        }
        assert pairs.get((37, 1037)) == 1

    def test_partial_overlap_does_not_pair_at_full_frac(self, spark):
        # two clips sharing SOME frames but not all decodable ones:
        # build B = A's text with a different tail -> first frames
        # match, later ones don't; min_match_frac=1 must reject
        base = "shared prefix words " * 6
        docs = spark.createDataFrame(
            [
                (1, base + "identical tail block one two three", "s"),
                (2, base + "entirely different ending zzz qqq xxx", "s"),
            ],
            "doc_id long, text string, source string",
        )
        kf = V.video_keyframe_hashes(
            V.documents_as_mjpeg_mp4(docs)
        ).localCheckpoint(eager=True)
        strict = V.video_near_dup_pairs(kf, max_hamming=3, min_match_frac=1.0)
        loose = V.video_near_dup_pairs(kf, max_hamming=3, min_match_frac=0.5)
        strict_pairs = {(r.video_a, r.video_b) for r in strict.collect()}
        loose_pairs = {(r.video_a, r.video_b) for r in loose.collect()}
        assert (1, 2) not in strict_pairs
        assert (1, 2) in loose_pairs


class TestDocumentMediaIdentities:
    def test_matches_the_two_operator_forms_row_for_row(self, spark):
        """The fused two-view pass equals, view by view,
        image_hashes(documents_as_png(view), content_key=True) and
        clip_identity_hashes(documents_as_mjpeg_mp4(view)) — including
        the corrupt ids: 50/100 (truncated PNG and container) and
        37/74 (broken first keyframe)."""
        from etl_procedure_codes_crawler_spark.llm import multimodal as M

        ids = list(range(1, 13)) + [37, 50, 74, 100]
        docs = spark.createDataFrame(
            [
                (i, f"image words {i} tail{i} " * (i % 3 + 1),
                 f"clip head {i % 4} more {i}", f"s{i % 2}")
                for i in ids
            ],
            "doc_id long, image_text string, clip_text string, "
            "source string",
        ).repartition(2)
        fused = {
            r.doc_id: r
            for r in V.document_media_identities(docs).collect()
        }
        assert set(fused) == set(ids)

        def view(col):
            return docs.select(
                "doc_id", F.col(col).alias("text"), "source"
            )

        image = M.image_hashes(
            M.documents_as_png(view("image_text")), content_key=True
        ).collect()
        clip = V.clip_identity_hashes(
            V.documents_as_mjpeg_mp4(view("clip_text"))
        ).collect()
        for r in image:
            f = fused[r.media_id]
            assert (f.image_phash, f.image_sha) == (r.phash, r.content_sha)
        for r in clip:
            f = fused[r.media_id]
            assert (f.clip_phash, f.clip_sha) == (r.phash, r.content_sha)
        assert len(image) == len(clip) == len(ids)
        # the pass-through column and the planted no-identity rows
        assert all(fused[i].source == f"s{i % 2}" for i in ids)
        no_image = {i for i in ids if fused[i].image_phash is None}
        no_clip = {i for i in ids if fused[i].clip_sha is None}
        assert no_image == {50, 100}
        assert no_clip == {37, 50, 74, 100}
