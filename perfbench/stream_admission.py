"""Workload ``stream_admission``: the unified admission gate
(``streaming.unified``) over pre-staged seeded document files.

One client, closed loop: the benchmark offers one staged file to the
stream's source directory, waits until the micro-batch that reads it
commits, then offers the next (``max_files_per_trigger=1``). The
persisted stores grow batch over batch and the per-source budgets
start binding partway through the run. A warm-up stream over the first
files, on its own stores, runs first.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import re
import shutil
import time

from . import inputs as I
from .common import WORK, OpLog, fresh_dir, median
from .corpus_prep import llm_decomposition, llm_layer_metrics
from .trace import Tracer, driver_only_s, engine_counters, jobs_in

NAME = "stream_admission"
#: the first batch (query start, cold Python workers) is warm-up
WARMUP_BATCHES = 1
#: at least this many timed batches, even past the deadline
MIN_TIMED_BATCHES = 2
COMMIT_TIMEOUT_S = 120.0
GATE_PARTITIONS = 4
MIN_DOC_FREQ = 5

#: job-description phase -> per-layer metric
PHASES = {
    "arrival guard": "streaming.guard_s",
    "warehouse anti-join + batch pin": "streaming.guard_s",
    "gate 1: exact dedup": "streaming.exact_s",
    "gate 2: image hash pass": "streaming.image_s",
    "gate 2: image pair verify": "streaming.image_s",
    "gate 2b: clip hash pass": "streaming.clip_s",
    "gate 2b: clip pair verify": "streaming.clip_s",
    "gate 3: passage count + strip": "streaming.passage_s",
    "gate 4: budgets": "streaming.budget_s",
    "store commits": "streaming.commit_s",
    "attrition fold": "streaming.attrition_s",
    "warehouse append": "streaming.append_s",
}
_LABEL = re.compile(r"^unified b(\d+): (.*)$")


def _normalized(text: str) -> str:
    return " ".join(text.lower().split())


def _epoch(ts: str) -> float:
    return datetime.datetime.strptime(
        ts, "%Y-%m-%dT%H:%M:%S.%fZ"
    ).replace(tzinfo=datetime.timezone.utc).timestamp()


class StreamAdmission:
    name = NAME

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.files = I.stream_docs(seed)
        self.budgets = I.stream_budgets(self.files)
        self.staged = I.write_stream_files(
            self.files, os.path.join(run_dir, "staged")
        )
        self.root = ""
        self.query = None
        self.offered: list[int] = []   # file indexes, in offer order
        self.offer_s: list[float] = []  # offer -> commit seconds, per file
        self.batches: list[dict] = []  # progress of committed batches
        self.error: str | None = None

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ------------------------------------------------------------ setup
    def setup(self, spark, rep: int) -> None:
        from etl_procedure_codes_crawler_spark.streaming.unified import (
            create_unified_stores,
        )

        self.root = fresh_dir(os.path.join(self.run_dir, f"gate{rep}"))
        create_unified_stores(spark, self._path("stores"), block=3, kmv_k=64,
                              kmv_shingle_k=3)

    # ------------------------------------------------------------- runs
    def _offer(self, i: int) -> None:
        """Offer staged file ``i`` and wait until its batch commits."""
        t0 = time.perf_counter()
        # by rename, so the source never lists a partial file
        tmp = self._path(f".offer{i:04d}.parquet")
        shutil.copyfile(self.staged[i], tmp)
        os.rename(tmp, os.path.join(self._path("incoming"), f"b{i:04d}.parquet"))
        self.offered.append(i)
        end = time.perf_counter() + COMMIT_TIMEOUT_S
        seen = None
        while True:
            # the cheap last event each poll; the full history only when
            # a new one arrived, so polling adds little load to the batch
            last = self.query.lastProgress
            if last is not None and last["batchId"] != seen:
                seen = last["batchId"]
                done = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
                if len(done) >= len(self.offered):
                    self.batches = done
                    self.offer_s.append(time.perf_counter() - t0)
                    return
            if not self.query.isActive:
                raise RuntimeError(str(self.query.exception()))
            if time.perf_counter() > end:
                raise TimeoutError(f"file {i} did not commit")
            time.sleep(0.02)

    def warmup(self, spark, tracer: Tracer) -> None:
        """Start the stream and commit its first batch."""
        from etl_procedure_codes_crawler_spark.streaming.unified import (
            stream_ingest_unified,
        )
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ])
        os.makedirs(self._path("incoming"))
        self.query = stream_ingest_unified(
            spark, self._path("incoming"), schema, self._path("wh"),
            self._path("stores"), self._path("ckpt"), budgets=self.budgets,
            min_doc_freq=MIN_DOC_FREQ, available_now=False,
            max_files_per_trigger=1, gate_shuffle_partitions=GATE_PARTITIONS,
        )
        try:
            for i in range(WARMUP_BATCHES):
                self._offer(i)
        except Exception:
            self.query.stop()
            raise

    def measure(self, spark, seconds: float, tracer: Tracer, decompose: bool):
        deadline = time.perf_counter() + seconds
        try:
            for i in range(WARMUP_BATCHES, len(self.staged)):
                if (time.perf_counter() >= deadline
                        and len(self.offered) - WARMUP_BATCHES >= MIN_TIMED_BATCHES):
                    break
                self._offer(i)
        except Exception as exc:  # the op raised: record, stop offering
            self.error = f"stream raised {exc!r}"
        finally:
            self.query.stop()
        for p in self.batches:
            start = _epoch(p["timestamp"])
            tracer.add("streaming.batch", start,
                       start + p["durationMs"]["triggerExecution"] / 1e3,
                       batch=p["batchId"], timed=p["batchId"] >= WARMUP_BATCHES)
        if decompose:
            llm_decomposition(spark, self._offered_docs(spark), tracer)

    def _offered_docs(self, spark):
        return spark.read.parquet(*[self.staged[i] for i in self.offered])

    # ----------------------------------------------------------- checks
    def check(self, spark, ops: OpLog) -> None:
        """One op per committed batch, then run-level checks: admitted
        ids are unique offered ids and no two share normalized text;
        every arrived doc is in exactly one attrition class, and the
        admitted counts sum to the warehouse row count; the admitted ids
        of each offered-file prefix hash the same as in every earlier
        run of this seed in the checkout (and of the plain run, in a
        traced run)."""
        if self.error:
            ops.fail(self.error)
        ops.ok(len(self.batches))
        offered = {d.doc_id: d for i in self.offered for d in self.files[i]}
        admitted = [
            r[0] for r in spark.read.parquet(self._path("wh")).select("doc_id").collect()
        ]
        texts = [_normalized(offered[i].text) for i in admitted if i in offered]
        if len(set(admitted)) != len(admitted) or len(texts) != len(admitted):
            ops.fail("admitted ids repeat or were never offered")
        elif len(set(texts)) != len(texts):
            ops.fail("two admitted docs share normalized text")
        else:
            ops.ok()
        att = spark.read.parquet(self._path("stores/attrition")).collect()
        classes = ("n_exact_rejected", "n_media_rejected", "n_video_rejected",
                   "n_budget_rejected", "n_admitted")
        if any(r["n_arrived"] != sum(r[c] for c in classes) for r in att):
            ops.fail("attrition classes do not partition arrivals")
        elif sum(r["n_arrived"] for r in att) != len(offered):
            ops.fail("attrition arrivals differ from docs offered")
        elif sum(r["n_admitted"] for r in att) != len(admitted):
            ops.fail("attrition admitted differs from warehouse rows")
        else:
            ops.ok()
        diff = self._check_prefix_hashes(set(admitted))
        if diff:
            ops.fail(f"admitted ids differ from an earlier run of seed "
                     f"{self.seed} after file {diff}")
        else:
            ops.ok()

    def _check_prefix_hashes(self, admitted: set[int]) -> int | None:
        """Compare the admitted-id hash of every offered-file prefix with
        the record kept from earlier runs of the same inputs; extend the
        record. Returns the first differing prefix, or None."""
        hashes, ids = [], []
        for i in self.offered:
            ids += sorted(d.doc_id for d in self.files[i] if d.doc_id in admitted)
            hashes.append(hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest())
        # keyed by the inputs themselves (documents and budgets), so a
        # changed generator starts a new record instead of failing
        # against the old one
        key = I.digest([
            [[(d.doc_id, d.text, d.source) for d in f] for f in self.files],
            sorted(self.budgets.items()),
        ])
        path = os.path.join(WORK, "admitted", f"seed{self.seed}-{key[:16]}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            with open(path) as fh:
                known = json.load(fh)
        except (OSError, ValueError):
            known = []
        for k, (a, b) in enumerate(zip(hashes, known)):
            if a != b:
                return k
        if len(hashes) > len(known):
            tmp = path + f".{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(hashes, fh)
            os.replace(tmp, path)
        return None

    # ---------------------------------------------------------- metrics
    def op_records(self) -> list[dict]:
        return [
            {"batch": p["batchId"], "rows": p["numInputRows"],
             "trigger_s": p["durationMs"]["triggerExecution"] / 1e3}
            for p in self.batches
        ]

    def _batch_seconds(self) -> list[float]:
        return [r["trigger_s"] for r in self.op_records()][WARMUP_BATCHES:]

    def metrics(self) -> dict[str, tuple[float, str]]:
        p50 = median(self._batch_seconds())
        # closed loop: a file's docs / seconds from its offer to its commit
        rate = median([
            len(self.files[i]) / s
            for i, s in zip(self.offered, self.offer_s)
        ][WARMUP_BATCHES:])
        return {
            "batch_p50_s": (p50, "s"),
            "docs_per_s": (rate, "docs/s"),
            "op_p50_s": (p50, "s"),
            "items_per_s": (rate, "docs/s"),
        }

    def layer_metrics(self, tracer: Tracer, jobs) -> dict[str, tuple[float, str]]:
        windows = [s for s in tracer.named("streaming.batch") if s.attrs["timed"]]
        per_batch = [jobs_in(jobs, [w]) for w in windows]
        n = len(windows)
        phase_s: dict[str, float] = {m: 0.0 for m in PHASES.values()}
        unlabeled = total = 0
        for w, bj in zip(windows, per_batch):
            total += len(bj)
            unlabeled += sum(1 for j in bj if not _LABEL.match(j.description))
            # phase k runs from its first labeled job to the next phase's;
            # unlabeled pool/stream-thread jobs fall inside by time
            marks = []
            for j in sorted(bj, key=lambda j: j.submit):
                m = _LABEL.match(j.description)
                if m and (not marks or marks[-1][1] != m.group(2)):
                    marks.append((j.submit, m.group(2)))
            for (t, phase), nxt in zip(marks, marks[1:] + [(w.end, None)]):
                key = PHASES.get(phase)
                if key:
                    phase_s[key] += nxt[0] - t
        secs = self._batch_seconds()
        q = max(1, len(secs) // 4)
        size = files = 0
        for dirpath, _, names in os.walk(self._path("stores")):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        out = {
            "streaming.jobs_per_batch": (median([len(b) for b in per_batch]), "count"),
            "streaming.tasks_per_batch": (
                median([sum(j.tasks for j in b) for b in per_batch]), "count"),
            "streaming.driver_only_s_per_batch": (
                median([driver_only_s(b, w) for b, w in zip(per_batch, windows)]), "s"),
            "streaming.store_bytes": (float(size), "B"),
            "streaming.store_files": (float(files), "count"),
            "streaming.late_over_early": (median(secs[-q:]) / median(secs[:q]), "ratio"),
            "streaming.unlabeled_job_share": (unlabeled / max(1, total), "ratio"),
        }
        out.update({k: (v / n, "s") for k, v in phase_s.items()})
        out.update(llm_layer_metrics(tracer, jobs))
        out.update({
            k: (float(v), "s" if k.endswith("_s") else ("B" if k.endswith("bytes") else "count"))
            for k, v in engine_counters([j for b in per_batch for j in b]).items()
        })
        return out

    def layer_map(self) -> dict[str, str]:
        m = {k: "batch_p50_s" for k in (
            "streaming.jobs_per_batch", "streaming.tasks_per_batch",
            "streaming.driver_only_s_per_batch", "streaming.store_bytes",
            "streaming.store_files", "streaming.late_over_early",
        )}
        m.update({k: "batch_p50_s and docs_per_s" for k in set(PHASES.values())})
        m["streaming.unlabeled_job_share"] = "none (observability baseline)"
        m.update({k: "none here (the gate uses the store forms); prep_s on corpus_prep"
                  for k in ("llm.boilerplate_s", "llm.jaccard_pairs_s", "llm.containment_s",
                            "llm.clusters_s", "llm.cluster_jobs", "llm.kmv_s",
                            "llm.bootstrap_s")})
        m["spark.*"] = "batch_p50_s (timed batches)"
        return m
