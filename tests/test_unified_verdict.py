"""The unified gate's verdict relation (streaming/unified.py
admission_verdict: gates 1, 2 and 2b), called without a stream on a
tiny batch against stores seeded with hand-written rows, and the
hash-store appends its survivors produce. The stream-level gate
semantics and the crash-replay contract are in test_unified_gate.py."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from etl_procedure_codes_crawler_spark.llm import video as V
from etl_procedure_codes_crawler_spark.streaming import unified as U


class TestAdmissionVerdict:
    """One admission_verdict call on a tiny batch against stores
    seeded with hand-written rows (the rows' keys are computed in the
    test process with the gate's own row functions)."""

    DOCS = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        # exact dup of 1 once normalized (case, whitespace)
        (2, "Alpha  BETA gamma delta epsilon zeta eta theta"),
        # its own id holds its text and its clip in the stores
        (3, "red green blue one two three four five six"),
        # another id holds its text
        (4, "plain words already stored under another id"),
        # clip twin of 3 (same 3-token head, other image head)
        (5, "red green blue eight nine ten eleven twelve"),
        # another id holds its image
        (6, "teal cyan mauve one two three four five"),
        # clip twin of 6
        (7, "teal cyan mauve six seven eight nine ten"),
        # image head of 3, but undecodable media (50 % 50 == 0)
        (50, "red green blue one two three four five bad"),
        # clip head of 3, but a broken keyframe (74 % 37 == 0)
        (74, "red green blue seven x y z w"),
    ]

    @staticmethod
    def _keys(docs):
        """doc_id -> {fp, image_phash, image_sha, clip_phash, clip_sha}."""
        heads = pd.DataFrame({
            "doc_id": [i for i, _ in docs],
            "image_text": [
                " ".join(t.split()[: U.MEDIA_PREFIX_TOKENS]) for _, t in docs
            ],
            "clip_text": [
                " ".join(t.split()[: U.VIDEO_PREFIX_TOKENS]) for _, t in docs
            ],
        })
        frame = next(V._media_identity_batches([heads]))
        return {
            i: dict(row, fp=hashlib.sha256(
                " ".join(t.lower().split()).encode()
            ).hexdigest())
            for (i, t), row in zip(docs, frame.to_dict("records"))
        }

    @staticmethod
    def _seed(path, columns):
        os.makedirs(path)
        types = {"id": pa.int64(), "phash": pa.int64()}
        pq.write_table(
            pa.table({
                name: pa.array(vals, types.get(name, pa.string()))
                for name, vals in columns.items()
            }),
            os.path.join(path, "part-0.parquet"),
        )

    def test_verdict_against_hand_written_store_rows(self, spark, tmp_path):
        keys = self._keys(self.DOCS)
        paths = U.unified_store_paths(str(tmp_path / "stores"))
        self._seed(paths["fingerprints"], {
            "id": [900, 3], "fp": [keys[4]["fp"], keys[3]["fp"]],
        })
        self._seed(paths["media"], {
            "id": [901], "phash": [keys[6]["image_phash"]],
            "content_sha": [keys[6]["image_sha"]],
        })
        self._seed(paths["video"], {
            "id": [3], "phash": [keys[3]["clip_phash"]],
            "content_sha": [keys[3]["clip_sha"]],
        })
        docs = spark.createDataFrame(
            [(i, t, "s") for i, t in self.DOCS],
            "doc_id long, text string, source string",
        )
        v = U.admission_verdict(spark, docs, paths).localCheckpoint(
            eager=True
        )
        rows = {r.id: r for r in v.collect()}

        def passing(flag):
            return {i for i, r in rows.items() if r[flag]}

        # the in-process keys are the verdict's keys
        assert {i: (r.fp, r.m_sha, r.v_sha) for i, r in rows.items()} == {
            i: (k["fp"], k["image_sha"], k["clip_sha"])
            for i, k in keys.items()
        }
        # an exact duplicate keeps its min id (1 over 2); a store row
        # with the same key and another id rejects (4 by text, 6 by
        # image)
        assert passing("ex_ok") == {1, 3, 5, 6, 7, 50, 74}
        assert passing("md_ok") == {1, 3, 5, 7, 50, 74}
        # 5 loses its clip class to 3, whose own-id clip row does not
        # reject it; 6, rejected by the image gate, cannot make its
        # clip twin 7 lose; 50 (no image or clip identity) and 74 (no
        # clip identity) admit
        assert passing("vd_ok") == {1, 3, 7, 50, 74}
        assert rows[50].m_sha is None and rows[74].v_sha is None
        assert (rows[3].fp_in, rows[3].m_in, rows[3].v_in) == (
            True, False, True
        )
        # the same-id store rows are not appended again
        appends = {
            store: {r.id for r in df.collect()}
            for store, df in U.hash_store_appends(
                U.verdict_survivors(v)
            ).items()
        }
        assert appends == {
            "fingerprints": {1, 7, 50, 74},
            "media": {1, 3, 7, 74},
            "video": {1, 7},
        }
