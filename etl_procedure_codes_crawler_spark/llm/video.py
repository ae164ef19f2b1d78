"""MJPEG-in-MP4: the video modality closed end to end with real parts.

Round 9 landed the CONTAINER half (ISO/IEC 14496-12 box walk —
multimodal.parse_mp4) while codec decode stayed stubbed. This module
closes the loop without any new codec: the corpus synthesizes
motion-JPEG videos — real baseline JPEG frames (llm/jpeg.py, a full
SOF0 decoder/encoder) carried as video samples inside a valid ISO
BMFF container with a ``'jpeg'`` VisualSampleEntry — and the decode
stage is DRIVEN BY THE SAMPLE TABLE: parse the container, take the
keyframe manifest (sample number, byte offset, byte length — the
exact rows multimodal.mp4_keyframe_manifest ships to a decode fleet),
seek into the mdat, decode each keyframe with the real JPEG decoder,
and perceptual-hash the pixels into the SAME hamming band-join
machinery text SimHash and image dHash ride (dedup.hamming_band_pairs
via multimodal.dhash64).

The reference crawler (Johnatanogueira/etl-procedure-codes-crawler)
has no video path; this implements the task brief's multimodal
requirement. All formats are public: ISO/IEC 14496-12 (container),
ITU-T T.81 baseline JPEG (frames), the pHash project's dHash
(signatures).

Scale shape: video bytes NEVER shuffle. Synthesis and
decode+hash each run in one Arrow pass over the payload column; the
only relations that cross an exchange are (media_id, sample_no,
phash) integer rows and the band-join pair output. At 100 TB the
decode stage reads each payload once, touches only keyframe byte
ranges (the manifest's point), and ships hashes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .multimodal import (
    MEDIA_SCHEMA,
    MP4_KEYFRAME_EVERY,
    PNG_CORRUPT_EVERY,
    PNG_WIDTH,
    _image_hash_batches,
    _mp4_sample_sizes,
    _PHASH_METHODS,
    _png_synth_batches,
    build_mp4_samples,
    default_decoder,
    dhash64,
    parse_mp4,
    sample_file_offsets,
)

#: synthesis geometry shared with the SQL oracle: 16-px-wide grayscale
#: frames, at most 8 frames per clip (token-count-capped), a keyframe
#: every 5th frame (MP4_KEYFRAME_EVERY), every 50th doc truncated
#: mid-container (the parse-error path, same schedule as
#: documents_as_mp4) and every 37th doc's FIRST keyframe overwritten
#: with same-length garbage (the decode-error path: container valid,
#: sample undecodable)
VIDEO_FRAME_WIDTH = 16
VIDEO_MAX_FRAMES = 8
VIDEO_CORRUPT_CONTAINER_EVERY = 50
VIDEO_CORRUPT_SAMPLE_EVERY = 37


def _frame_chunks(data: bytes, n_frames: int) -> list[bytes]:
    """Even byte split of the payload into frame chunks — the same
    closed form as the container sample table (_mp4_sample_sizes), so
    the SQL oracle can reproduce every frame's byte length."""
    sizes = _mp4_sample_sizes(len(data), n_frames)
    chunks, off = [], 0
    for sz in sizes:
        chunks.append(data[off : off + sz])
        off += sz
    return chunks


def encode_frame_jpeg(chunk: bytes, width: int = VIDEO_FRAME_WIDTH) -> bytes:
    """One text chunk -> one real grayscale baseline JPEG frame:
    height = ceil(bytes/width) (min 1), zero-padded — the
    documents_as_jpeg geometry, per frame."""
    from .jpeg import encode_jpeg

    height = max(1, -(-len(chunk) // width))
    pix = chunk.ljust(width * height, b"\x00")
    return encode_jpeg(pix, width, height, channels=1)


def _mjpeg_synth_batches(
    batches: Iterator[pd.DataFrame],
    width: int,
    max_frames: int,
    corrupt_container_every: int,
    corrupt_sample_every: int,
) -> Iterator[pd.DataFrame]:
    """The MJPEG-in-MP4 synthesis as a plain batch generator —
    shared by documents_as_mjpeg_mp4 and the fused
    :func:`document_media_identities`."""
    for batch in batches:
        ids, payloads, mimes, sizes, sources = [], [], [], [], []
        for doc_id, text, source in zip(
            batch["doc_id"], batch["text"], batch["source"]
        ):
            data = (text or "").encode("utf-8")
            n_frames = min(
                max_frames, max(1, len((text or "").split()))
            )
            frames = [
                encode_frame_jpeg(c, width)
                for c in _frame_chunks(data, n_frames)
            ]
            if (
                corrupt_sample_every
                and doc_id % corrupt_sample_every == 0
                and not (
                    corrupt_container_every
                    and doc_id % corrupt_container_every == 0
                )
            ):
                # same length => identical sample table/offsets,
                # but no SOI marker => decode_jpeg raises
                frames[0] = b"\x00" * len(frames[0])
            payload = build_mp4_samples(
                frames, width=width, height=width, codec=b"jpeg"
            )
            if (
                corrupt_container_every
                and doc_id % corrupt_container_every == 0
            ):
                payload = payload[: max(12, len(payload) // 2)]
            ids.append(doc_id)
            payloads.append(payload)
            mimes.append("video/mp4")
            sizes.append(len(payload))
            sources.append(source)
        yield pd.DataFrame(
            {
                "media_id": ids,
                "payload": payloads,
                "mime": mimes,
                "n_bytes": sizes,
                "source": sources,
            }
        )


def documents_as_mjpeg_mp4(
    documents: DataFrame,
    width: int = VIDEO_FRAME_WIDTH,
    max_frames: int = VIDEO_MAX_FRAMES,
    corrupt_container_every: int = VIDEO_CORRUPT_CONTAINER_EVERY,
    corrupt_sample_every: int = VIDEO_CORRUPT_SAMPLE_EVERY,
) -> DataFrame:
    """Deterministic REAL-format media corpus #6: each document
    becomes a motion-JPEG video — n_frames = min(max_frames, max(1,
    whitespace tokens)), frame i the i-th even byte chunk of the
    utf-8 text encoded as a real grayscale JPEG, all frames packed as
    samples of a valid single-track ISO BMFF container ('jpeg' sample
    entry). Two planted corruption schedules: every
    ``corrupt_container_every``-th doc is truncated mid-container
    (parse error) and every ``corrupt_sample_every``-th doc's first
    keyframe is overwritten with same-length zeros (container parses,
    that sample alone fails to decode). Identical text => identical
    payload bytes, so planted twin documents become byte-identical
    duplicate clips."""

    def run(batches):
        return _mjpeg_synth_batches(
            batches, width, max_frames,
            corrupt_container_every, corrupt_sample_every,
        )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


VIDEO_KF_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_no", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("phash", LongType()),
        StructField("decode_error", StringType()),
    ]
)


def video_keyframe_hashes(
    media: DataFrame, method: str = "dhash"
) -> DataFrame:
    """(media_id, sample_no, width, height, phash, decode_error) for
    every KEYFRAME of every parseable container: parse the sample
    table, locate each keyframe's bytes with the REAL demuxer walk
    (multimodal.sample_file_offsets — stsc runs expanded over the
    stco chunk list, so multi-chunk layouts read the right bytes,
    not chunk-1-anchored guesses), slice the JPEG out of the mdat,
    decode it with the real decoder (llm/jpeg.py) and dHash/aHash
    the pixels — all in ONE Arrow pass, so video bytes never
    re-enter the plan. Undecodable samples flow as error rows (NULL
    phash + decode_error); unparseable containers contribute no rows
    (their error is mp4_container_stats' job, the manifest
    contract)."""
    if method not in _PHASH_METHODS:
        raise ValueError(
            f"unknown method {method!r}; pick from {sorted(_PHASH_METHODS)}"
        )
    hasher = _PHASH_METHODS[method]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .jpeg import decode_jpeg

        for batch in batches:
            out = {k.name: [] for k in VIDEO_KF_HASH_SCHEMA.fields}
            for media_id, payload in zip(
                batch["media_id"], batch["payload"]
            ):
                data = bytes(payload) if payload is not None else b""
                try:
                    info = parse_mp4(data)
                except Exception:  # noqa: BLE001 — stats query reports it
                    continue
                for t in info["tracks"]:
                    sizes = t.get("sample_sizes") or []
                    try:
                        offs = sample_file_offsets(t)
                    except ValueError:
                        continue  # inconsistent tables: stats' job
                    for kf in t.get("keyframes") or []:
                        if not 1 <= kf <= len(sizes):
                            continue
                        lo = offs[kf - 1]
                        blob = data[lo : lo + sizes[kf - 1]]
                        w = h = phash = None
                        error = None
                        try:
                            fw, fh, fc, pix = decode_jpeg(blob)
                            w, h = fw, fh
                            phash = hasher(pix, fw, fh, fc)
                        except NotImplementedError:
                            raise  # missing codec: loud, not a data error
                        except Exception as exc:  # noqa: BLE001
                            error = repr(exc)
                        out["media_id"].append(media_id)
                        out["sample_no"].append(kf)
                        out["width"].append(w)
                        out["height"].append(h)
                        out["phash"].append(phash)
                        out["decode_error"].append(error)
            for name in ("media_id", "sample_no", "width", "height",
                         "phash"):
                # nullable Int64, NOT object: one error row would
                # otherwise coerce the column through float64 on the
                # Arrow hop and hashes above 2**53 lose low bits (the
                # round-8 phash hazard)
                out[name] = pd.array(out[name], dtype="Int64")
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=VIDEO_KF_HASH_SCHEMA
    )


# ---------------------------------------------------------------------------
# inter-frame (predicted-frame) video: delta-encoded non-sync samples
# ---------------------------------------------------------------------------
#
# Real 100 TB video corpora are H.264-class: ~1-5% keyframes, the rest
# predicted frames that only exist relative to a reference. The MJPEG
# family above decodes keyframes only; this family closes the gap with
# a delta codec over the SAME container machinery: sync samples stay
# real baseline JPEGs, every non-sync sample stores the per-pixel
# difference (mod 256) from the PREVIOUS RECONSTRUCTED frame —
# closed-loop prediction, the standard codec design (the encoder
# predicts from what the decoder will actually have, so delta frames
# reconstruct their source EXACTLY even though the JPEG keyframes
# round-trip only within +-2). Decode is driven by the sample table's
# sync flags (stss): a keyframe resets the prediction chain, a broken
# chain (undecodable reference) turns every dependent frame into an
# error row until the next keyframe — the corrupt-chain failure plane.

#: delta-sample wire format: magic + >HH width height + w*h bytes of
#: (cur - prev_recon) mod 256. Sample size = 8 + w*h — closed form,
#: which is what lets DuckDB pin the container geometry.
DELTA_MAGIC = b"DGRY"

#: the delta family's planted corruption schedule: every 37th doc's
#: FIRST NON-SYNC sample (sample 2) is zeroed — the container parses,
#: the keyframe decodes, and the prediction chain breaks for samples
#: 2..min(nf, keyframe_every) until the next keyframe resets it.
VIDEO_CORRUPT_DELTA_EVERY = 37


def padded_frame_pixels(
    data: bytes, n_frames: int, width: int = VIDEO_FRAME_WIDTH
) -> tuple[list[bytes], int, int]:
    """(frames, width, height) — the even byte split of the payload,
    every chunk zero-padded to ONE shared geometry (delta prediction
    needs equal-size reference frames): height = ceil(max_chunk /
    width), max_chunk = base + (1 if rem else 0) — closed form in
    (len(data), n_frames), which the SQL oracle replays."""
    sizes = _mp4_sample_sizes(len(data), n_frames)
    height = max(1, -(-max(sizes) // width))
    frames, off = [], 0
    for sz in sizes:
        frames.append(data[off : off + sz].ljust(width * height, b"\x00"))
        off += sz
    return frames, width, height


def encode_delta_clip(
    frames: list[bytes],
    width: int,
    height: int,
    keyframe_every: int = MP4_KEYFRAME_EVERY,
) -> list[bytes]:
    """Pixel frames (equal geometry) -> sample blobs: sample i is a
    real JPEG when (i-1) % keyframe_every == 0, else DGRY header +
    (frame - prev_reconstruction) mod 256. Closed-loop: the encoder
    tracks the decoder's reconstruction (decode its own JPEG output),
    so every delta frame reconstructs its source byte-exactly."""
    import struct

    import numpy as np

    from .jpeg import decode_jpeg, encode_jpeg

    if any(len(f) != width * height for f in frames):
        raise ValueError("delta clip frames must share one geometry")
    samples: list[bytes] = []
    recon: np.ndarray | None = None
    header = DELTA_MAGIC + struct.pack(">HH", width, height)
    for i, frame in enumerate(frames):
        cur = np.frombuffer(frame, dtype=np.uint8)
        if i % keyframe_every == 0:
            blob = encode_jpeg(frame, width, height, channels=1)
            _w, _h, _c, pix = decode_jpeg(blob)
            recon = np.frombuffer(pix, dtype=np.uint8)
        else:
            diff = (cur.astype(np.int16) - recon.astype(np.int16)) % 256
            blob = header + diff.astype(np.uint8).tobytes()
            recon = cur
        samples.append(blob)
    return samples


def documents_as_delta_mp4(
    documents: DataFrame,
    width: int = VIDEO_FRAME_WIDTH,
    max_frames: int = VIDEO_MAX_FRAMES,
    corrupt_container_every: int = VIDEO_CORRUPT_CONTAINER_EVERY,
    corrupt_delta_every: int = VIDEO_CORRUPT_DELTA_EVERY,
) -> DataFrame:
    """Deterministic REAL-format media corpus #7: each document
    becomes a delta-coded clip — n_frames = min(max_frames, max(1,
    tokens)), all frames padded to one geometry, sync samples real
    JPEGs, non-sync samples closed-loop diffs (see
    :func:`encode_delta_clip`), packed as a valid ISO BMFF container
    with a ``'dgry'`` VisualSampleEntry. Every
    ``corrupt_container_every``-th doc truncates mid-container (parse
    error, no rows) and every other ``corrupt_delta_every``-th doc
    with >= 2 frames zeroes its FIRST delta sample (the chain-break
    plane). Identical text => byte-identical clips."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, payloads, mimes, sizes, sources = [], [], [], [], []
            for doc_id, text, source in zip(
                batch["doc_id"], batch["text"], batch["source"]
            ):
                data = (text or "").encode("utf-8")
                n_frames = min(
                    max_frames, max(1, len((text or "").split()))
                )
                frames, w, h = padded_frame_pixels(data, n_frames, width)
                samples = encode_delta_clip(frames, w, h)
                if (
                    corrupt_delta_every
                    and doc_id % corrupt_delta_every == 0
                    and len(samples) >= 2
                    and not (
                        corrupt_container_every
                        and doc_id % corrupt_container_every == 0
                    )
                ):
                    # same length => identical sample table; no DGRY
                    # magic => the delta parse fails and the chain
                    # breaks until the next keyframe
                    samples[1] = b"\x00" * len(samples[1])
                payload = build_mp4_samples(
                    samples, width=w, height=h, codec=b"dgry"
                )
                if (
                    corrupt_container_every
                    and doc_id % corrupt_container_every == 0
                ):
                    payload = payload[: max(12, len(payload) // 2)]
                ids.append(doc_id)
                payloads.append(payload)
                mimes.append("video/mp4")
                sizes.append(len(payload))
                sources.append(source)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "mime": mimes,
                    "n_bytes": sizes,
                    "source": sources,
                }
            )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


VIDEO_FRAME_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_no", LongType()),
        StructField("is_sync", BooleanType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("phash", LongType()),
        StructField("decode_error", StringType()),
    ]
)


def video_frame_hashes(media: DataFrame, method: str = "dhash") -> DataFrame:
    """(media_id, sample_no, is_sync, width, height, phash,
    decode_error) for EVERY sample of every parseable container — the
    all-frame twin of :func:`video_keyframe_hashes`: walk the sample
    table in presentation order (real demuxer offsets,
    multimodal.sample_file_offsets), decode sync samples with the
    real JPEG decoder, apply DGRY deltas to the running
    reconstruction for non-sync samples, and perceptual-hash every
    reconstructed frame. Error-as-data: an undecodable sync sample
    emits an error row AND breaks the prediction chain — every
    dependent delta frame emits a 'reference chain broken' error row
    until the next keyframe; an undecodable delta sample does the
    same from its own position. Unparseable containers contribute no
    rows (mp4_container_stats' job).

    Scale shape: one Arrow pass; video bytes never shuffle; output is
    the integer (media_id, sample_no, phash) relation — the all-frame
    input video_near_dup_pairs consumes."""
    import struct

    if method not in _PHASH_METHODS:
        raise ValueError(
            f"unknown method {method!r}; pick from {sorted(_PHASH_METHODS)}"
        )
    hasher = _PHASH_METHODS[method]
    hdr = len(DELTA_MAGIC) + 4

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .jpeg import decode_jpeg

        for batch in batches:
            out = {k.name: [] for k in VIDEO_FRAME_HASH_SCHEMA.fields}

            def emit(media_id, no, sync, w, h, phash, error):
                out["media_id"].append(media_id)
                out["sample_no"].append(no)
                out["is_sync"].append(sync)
                out["width"].append(w)
                out["height"].append(h)
                out["phash"].append(phash)
                out["decode_error"].append(error)

            for media_id, payload in zip(
                batch["media_id"], batch["payload"]
            ):
                data = bytes(payload) if payload is not None else b""
                try:
                    info = parse_mp4(data)
                except Exception:  # noqa: BLE001 — stats query reports it
                    continue
                for t in info["tracks"]:
                    sizes = t.get("sample_sizes") or []
                    try:
                        offs = sample_file_offsets(t)
                    except ValueError:
                        continue
                    sync_set = set(t.get("keyframes") or [])
                    recon = None  # np.uint8 pixels, or None = broken
                    rdims = None
                    for no in range(1, len(sizes) + 1):
                        blob = data[offs[no - 1] : offs[no - 1] + sizes[no - 1]]
                        sync = no in sync_set
                        try:
                            if sync:
                                fw, fh, fc, pix = decode_jpeg(blob)
                                recon = np.frombuffer(
                                    pix, dtype=np.uint8
                                ) if fc == 1 else None
                                if recon is None:
                                    raise ValueError(
                                        f"{fc}-channel sync frame in a "
                                        "grayscale delta clip"
                                    )
                                rdims = (fw, fh)
                            else:
                                if recon is None:
                                    raise ValueError(
                                        "reference chain broken: no "
                                        "decodable frame to predict from"
                                    )
                                if blob[: len(DELTA_MAGIC)] != DELTA_MAGIC:
                                    recon = None
                                    raise ValueError(
                                        "corrupt delta sample: bad magic"
                                    )
                                dw, dh = struct.unpack_from(
                                    ">HH", blob, len(DELTA_MAGIC)
                                )
                                if (dw, dh) != rdims or len(blob) != (
                                    hdr + dw * dh
                                ):
                                    recon = None
                                    raise ValueError(
                                        "corrupt delta sample: geometry "
                                        f"({dw}x{dh}, {len(blob)}B) does "
                                        f"not match reference {rdims}"
                                    )
                                diff = np.frombuffer(
                                    blob[hdr:], dtype=np.uint8
                                )
                                recon = (
                                    recon.astype(np.int16)
                                    + diff.astype(np.int16)
                                ).astype(np.uint8)
                            w, h = rdims
                            emit(
                                media_id, no, sync, w, h,
                                hasher(recon.tobytes(), w, h, 1), None,
                            )
                        except NotImplementedError:
                            raise  # missing codec: loud, not a data error
                        except Exception as exc:  # noqa: BLE001
                            if sync:
                                recon = None  # sync failure breaks chain
                            emit(
                                media_id, no, sync, None, None, None,
                                repr(exc),
                            )
            for name in ("media_id", "sample_no", "width", "height",
                         "phash"):
                # nullable Int64, NOT object (the round-8 phash hazard)
                out[name] = pd.array(out[name], dtype="Int64")
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=VIDEO_FRAME_HASH_SCHEMA
    )


CLIP_IDENTITY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
        StructField("content_sha", StringType()),
        StructField("decode_error", StringType()),
    ]
)


def clip_identity_hashes(media: DataFrame, method: str = "dhash") -> DataFrame:
    """One row per clip: (media_id, phash, content_sha, decode_error)
    — the unified gate's video identity in ONE Arrow pass (round 11:
    the first cut synthesized clips into a checkpoint, then joined a
    payload-sha pass against a keyframe-decode aggregate — three
    extra batch stages for what a single pipelined pass computes).

    - content_sha = sha256 of the full payload (exact payload match
      implies exact decoded content);
    - phash = the FIRST keyframe's perceptual hash;
    - identity exists ONLY if the container parses and EVERY keyframe
      decodes — otherwise phash/content_sha are NULL and decode_error
      carries the reason (the no-perceptual-identity admission path).
    """
    if method not in _PHASH_METHODS:
        raise ValueError(
            f"unknown method {method!r}; pick from {sorted(_PHASH_METHODS)}"
        )
    hasher = _PHASH_METHODS[method]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _clip_identity_batches(batches, hasher)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=CLIP_IDENTITY_SCHEMA
    )


def _clip_identity_batches(
    batches: Iterator[pd.DataFrame], hasher
) -> Iterator[pd.DataFrame]:
    """The clip-identity pass as a plain batch generator — shared by
    clip_identity_hashes and the fused
    :func:`document_media_identities`."""
    import hashlib

    from .jpeg import decode_jpeg

    for batch in batches:
        out = {k.name: [] for k in CLIP_IDENTITY_SCHEMA.fields}
        for media_id, payload in zip(
            batch["media_id"], batch["payload"]
        ):
            data = bytes(payload) if payload is not None else b""
            phash = sha = None
            error = None
            try:
                info = parse_mp4(data)
                first = None
                n_kf = 0
                for t in info["tracks"]:
                    sizes = t.get("sample_sizes") or []
                    offs = sample_file_offsets(t)
                    for kf in t.get("keyframes") or []:
                        if not 1 <= kf <= len(sizes):
                            raise ValueError(
                                f"keyframe {kf} outside sample table"
                            )
                        lo = offs[kf - 1]
                        fw, fh, fc, pix = decode_jpeg(
                            data[lo : lo + sizes[kf - 1]]
                        )
                        n_kf += 1
                        if first is None:
                            first = hasher(pix, fw, fh, fc)
                if n_kf == 0:
                    raise ValueError("no keyframes: no identity")
                phash = first
                sha = hashlib.sha256(data).hexdigest()
            except NotImplementedError:
                raise  # missing codec: loud, not a data error
            except Exception as exc:  # noqa: BLE001 — admit, no identity
                error = repr(exc)
            out["media_id"].append(media_id)
            out["phash"].append(phash)
            out["content_sha"].append(sha)
            out["decode_error"].append(error)
        for name in ("media_id", "phash"):
            out[name] = pd.array(out[name], dtype="Int64")
        yield pd.DataFrame(out)


#: the two views' identity columns, appended to the pass-through
#: columns by :func:`document_media_identities`
MEDIA_IDENTITY_FIELDS = [
    StructField("image_phash", LongType()),
    StructField("image_sha", StringType()),
    StructField("clip_phash", LongType()),
    StructField("clip_sha", StringType()),
]


def _media_identity_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """The two-view identity pass as a plain batch generator (see
    :func:`document_media_identities`): the PNG view runs
    ``_png_synth_batches`` → ``_image_hash_batches``, the clip view
    ``_mjpeg_synth_batches`` → ``_clip_identity_batches``, both per
    batch, so the payloads never leave the worker."""

    def view(batch: pd.DataFrame, col: str) -> list[pd.DataFrame]:
        return [pd.DataFrame(
            {"doc_id": batch["doc_id"], "text": batch[col], "source": None}
        )]

    for batch in batches:
        batch = batch.reset_index(drop=True)
        image = next(_image_hash_batches(
            _png_synth_batches(
                view(batch, "image_text"), PNG_WIDTH, PNG_CORRUPT_EVERY
            ),
            default_decoder, dhash64, True,
        ))
        clip = next(_clip_identity_batches(
            _mjpeg_synth_batches(
                view(batch, "clip_text"), VIDEO_FRAME_WIDTH, VIDEO_MAX_FRAMES,
                VIDEO_CORRUPT_CONTAINER_EVERY, VIDEO_CORRUPT_SAMPLE_EVERY,
            ),
            dhash64,
        ))
        out = batch.drop(columns=["image_text", "clip_text"])
        out["image_phash"] = image["phash"].array
        out["image_sha"] = image["content_sha"].array
        out["clip_phash"] = clip["phash"].array
        out["clip_sha"] = clip["content_sha"].array
        yield out


def document_media_identities(documents: DataFrame) -> DataFrame:
    """Both media identities of every document in ONE mapInPandas: the
    PNG view of ``image_text`` (documents_as_png, decoded + dHashed +
    pixel-sha'd as in ``image_hashes(..., content_key=True)``) and the
    MJPEG-in-MP4 clip view of ``clip_text`` (documents_as_mjpeg_mp4,
    identified as in :func:`clip_identity_hashes`). The payloads never
    cross the Python↔JVM boundary, and both views share one pass over
    the documents. ``documents`` needs ``doc_id`` (it drives the
    corruption schedules); every column other than the two view texts
    passes through, followed by (image_phash, image_sha, clip_phash,
    clip_sha). A view without identity (undecodable PNG, unparseable
    container or any undecodable keyframe) has NULL phash and sha.
    The same row functions as the two-operator forms, so each view's
    (phash, sha) is identical row for row."""
    keep = [
        f for f in documents.schema.fields
        if f.name not in ("image_text", "clip_text")
    ]
    return documents.mapInPandas(
        _media_identity_batches,
        schema=StructType(keep + MEDIA_IDENTITY_FIELDS),
    )


#: frame-key packing for the band join: key = media_id * 64 +
#: sample_no. sample_no <= VIDEO_MAX_FRAMES << 64, and distinct
#: media always dominate the comparison, so doc_a < doc_b in key
#: space implies video_a <= video_b — pair direction stays canonical.
_FRAME_KEY_STRIDE = 64


def video_near_dup_pairs(
    kf_hashes: DataFrame,
    max_hamming: int = 3,
    min_match_frac: float = 1.0,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """(video_a, video_b, n_matched, n_kf_a, n_kf_b, score): video
    near-duplicates from keyframe perceptual hashes. Frame-level
    candidate pairs come from the SAME 4-band hamming join text
    SimHash and image dHash use (exact for max_hamming <= 3 by
    pigeonhole), on a packed (media_id, sample_no) key; a video pair
    scores matched keyframes (distinct on each side, the smaller
    count wins — one frame matching twice cannot inflate it) against
    the smaller clip's decodable-keyframe count. ``min_match_frac=1``
    keeps full-clip duplicates: byte-identical planted twins land at
    hamming 0 on every keyframe. Decode-error rows (NULL phash) are
    excluded — an undecodable frame has no perceptual identity.

    Scale shape: input is the integer hash relation (never pixels);
    the band join is the existing star-capped machinery; the score
    join runs on the (already tiny) pair relation plus a
    keyframe-count aggregate."""
    from .dedup import hamming_band_pairs

    # The packing is only injective while 0 <= sample_no < stride;
    # video_keyframe_hashes is generic over any parseable MP4 (stss
    # numbers are unbounded — only the synthesized corpus caps clips
    # at 8 frames), so an out-of-range sample must fail LOUDLY at
    # execution instead of silently aliasing into a neighboring
    # media_id's key space and corrupting pair grouping.
    packed = F.expr(
        f"CASE WHEN sample_no >= 0 AND sample_no < {_FRAME_KEY_STRIDE} "
        f"THEN CAST(media_id AS BIGINT) * {_FRAME_KEY_STRIDE} "
        f"     + CAST(sample_no AS BIGINT) "
        f"ELSE raise_error(concat('video_near_dup_pairs: sample_no ', "
        f"CAST(sample_no AS STRING), ' outside the frame-key stride "
        f"[0, {_FRAME_KEY_STRIDE}) — packed keys would alias across "
        f"media; raise _FRAME_KEY_STRIDE or pre-filter frames')) END"
    )
    ok = kf_hashes.filter(F.col("phash").isNotNull()).select(
        packed.alias("frame_key"),
        F.col("media_id").cast("bigint").alias("media_id"),
        "sample_no",
        "phash",
    )
    counts = ok.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_kf"))
    frame_pairs = hamming_band_pairs(
        ok.select("frame_key", "phash"),
        "phash",
        "frame_key",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
        bands=4,
    )
    vp = (
        frame_pairs.select(
            # integer DIV, not float division: float64 would round
            # keys above 2**53 before the truncating cast
            F.expr(f"doc_a DIV {_FRAME_KEY_STRIDE}").alias("video_a"),
            F.pmod(F.col("doc_a"), F.lit(_FRAME_KEY_STRIDE)).alias("kf_a"),
            F.expr(f"doc_b DIV {_FRAME_KEY_STRIDE}").alias("video_b"),
            F.pmod(F.col("doc_b"), F.lit(_FRAME_KEY_STRIDE)).alias("kf_b"),
        )
        .filter(F.col("video_a") != F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(
            F.least(
                F.countDistinct("kf_a"), F.countDistinct("kf_b")
            ).alias("n_matched")
        )
    )
    ca = counts.select(
        F.col("media_id").alias("video_a"), F.col("n_kf").alias("n_kf_a")
    )
    cb = counts.select(
        F.col("media_id").alias("video_b"), F.col("n_kf").alias("n_kf_b")
    )
    # no broadcast hint on counts: one row per corpus VIDEO — AQE
    # auto-broadcasts when genuinely small (same call as dedup's
    # verified-jaccard join)
    return (
        vp.join(ca, "video_a")
        .join(cb, "video_b")
        .select(
            "video_a",
            "video_b",
            "n_matched",
            "n_kf_a",
            "n_kf_b",
            (
                F.col("n_matched").cast("double")
                / F.least("n_kf_a", "n_kf_b")
            ).alias("score"),
        )
        .filter(F.col("score") >= min_match_frac)
    )
