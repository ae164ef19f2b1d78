"""Workload ``corpus_prep``: the registered ``llm_corpus_prep_v5``
report over a seeded corpus with planted near-duplicate clusters,
containment fragments, boilerplate passages and uneven source sizes.

The warm-up pass is the DuckDB oracle compare (``plans.parity``); every
timed pass builds a fresh DataFrame, collects it, and must equal the
oracle's rows.
"""

from __future__ import annotations

import os
import time

from . import inputs as I
from .common import OpLog, median
from .trace import Tracer, driver_only_s, engine_counters, jobs_in

NAME = "corpus_prep"
QUERY = "llm_corpus_prep_v5"
MIN_PASSES = 3

#: decomposition span -> per-layer metric
LLM_CALLS = {
    "llm.remove_boilerplate_passages": "llm.boilerplate_s",
    "llm.ngram_jaccard_pairs": "llm.jaccard_pairs_s",
    "llm.ngram_containment_pairs": "llm.containment_s",
    "llm.duplicate_clusters": "llm.clusters_s",
    "llm.kmv_distinct_by_group": "llm.kmv_s",
    "llm.bootstrap_ci_by_group": "llm.bootstrap_s",
}


def _canon(pdf):
    from etl_procedure_codes_crawler_spark.plans.parity import _canon_rows

    return _canon_rows(
        list(pdf.columns), pdf.where(pdf.notna(), None).values.tolist()
    )


def llm_decomposition(spark, documents, tracer: Tracer) -> None:
    """Each public llm call the v5 report composes, materialized alone
    on ``documents`` (doc_id, text, source)."""
    from etl_procedure_codes_crawler_spark.llm import bootstrap as BS
    from etl_procedure_codes_crawler_spark.llm import cluster as CL
    from etl_procedure_codes_crawler_spark.llm import dedup as D
    from etl_procedure_codes_crawler_spark.llm import kmv as KV
    from etl_procedure_codes_crawler_spark.llm import text as T

    def run(name, build):
        with tracer.span(name):
            build().write.format("noop").mode("overwrite").save()

    run("llm.remove_boilerplate_passages",
        lambda: D.remove_boilerplate_passages(documents, min_doc_freq=5, block=3))
    run("llm.ngram_jaccard_pairs",
        lambda: D.ngram_jaccard_pairs(documents, threshold=0.05, max_doc_freq=50))
    run("llm.ngram_containment_pairs",
        lambda: D.ngram_containment_pairs(documents, threshold=0.5, max_doc_freq=50))
    pairs = D.ngram_jaccard_pairs(
        documents, threshold=0.05, max_doc_freq=50
    ).select("doc_a", "doc_b").localCheckpoint(eager=True)
    run("llm.duplicate_clusters",
        lambda: CL.soft_dedup_weights(CL.duplicate_clusters(pairs, all_ids=documents)))
    run("llm.kmv_distinct_by_group",
        lambda: KV.kmv_distinct_by_group(documents, k=64))
    run("llm.bootstrap_ci_by_group",
        lambda: BS.bootstrap_ci_by_group(
            documents.select("doc_id", "source", T.token_count("text").alias("_tc")),
            group_col="source", value_col="_tc", n_replicates=32,
        ))
    pairs.unpersist()


def llm_layer_metrics(tracer: Tracer, jobs) -> dict[str, tuple[float, str]]:
    out = {
        metric: (median([s.duration for s in tracer.named(span)]), "s")
        for span, metric in LLM_CALLS.items()
    }
    out["llm.cluster_jobs"] = (
        median([len(jobs_in(jobs, [s])) for s in tracer.named("llm.duplicate_clusters")]),
        "count",
    )
    return out


class CorpusPrep:
    name = NAME

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.docs = I.corpus_docs(seed)
        self.corpus_dir = os.path.join(run_dir, "corpus")
        I.write_corpus(self.docs, self.corpus_dir)
        self.oracle_rows = None
        self.passes: list[dict] = []
        self.error: str | None = None

    def _query(self):
        import __spark_entry__ as entry

        return entry.queries()[QUERY], entry.oracle_sql()[QUERY]

    def setup(self, spark, rep: int) -> None:
        """No program-side state: the report reads the corpus directly."""

    def warmup(self, spark, tracer: Tracer) -> None:
        from etl_procedure_codes_crawler_spark.plans.parity import (
            compare_query, duckdb_connection,
        )

        plan, oracle = self._query()
        with tracer.span("plans.compare_query"):
            self.report = compare_query(spark, self.corpus_dir, plan, oracle)
        con = duckdb_connection(self.corpus_dir)
        try:
            self.oracle_rows = _canon(con.execute(oracle).df())
        finally:
            con.close()

    def measure(self, spark, seconds: float, tracer: Tracer, decompose: bool):
        plan, _ = self._query()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(self.passes) < MIN_PASSES:
            t0 = time.perf_counter()
            try:
                with tracer.span("llm.corpus_prep_v5_pass", i=len(self.passes)):
                    pdf = plan(spark, self.corpus_dir).toPandas()
            except Exception as exc:  # a raising pass is a failed op
                self.error = f"pass {len(self.passes)} raised {exc!r}"
                return
            dt = time.perf_counter() - t0
            self.passes.append({
                "pass": len(self.passes), "seconds": dt,
                "matches_oracle": _canon(pdf) == self.oracle_rows,
            })
            if decompose:
                t1 = time.perf_counter()
                self._decompose(spark, tracer)
                deadline += time.perf_counter() - t1

    def _decompose(self, spark, tracer: Tracer) -> None:
        from etl_procedure_codes_crawler_spark.plans.relational import load

        llm_decomposition(spark, load(spark, self.corpus_dir, "documents"), tracer)

    def check(self, spark, ops: OpLog) -> None:
        """The warm-up compare must hash-match the DuckDB oracle, and
        every timed pass must return the oracle's rows."""
        r = self.report
        if r["rows_match"] and r["columns_match"] and r["values_match"]:
            ops.ok()
        else:
            ops.fail(f"{QUERY} differs from its DuckDB oracle: {r}")
        for p in self.passes:
            if p["matches_oracle"]:
                ops.ok()
            else:
                ops.fail(f"pass {p['pass']} rows differ from the oracle")
        if self.error:
            ops.fail(self.error)

    def op_records(self) -> list[dict]:
        return self.passes

    def metrics(self) -> dict[str, tuple[float, str]]:
        secs = [p["seconds"] for p in self.passes]
        p50 = median(secs)
        rate = len(self.docs) * len(secs) / sum(secs)
        return {
            "prep_s": (p50, "s"),
            "op_p50_s": (p50, "s"),
            "items_per_s": (rate, "docs/s"),
        }

    def layer_metrics(self, tracer: Tracer, jobs) -> dict[str, tuple[float, str]]:
        passes = tracer.named("llm.corpus_prep_v5_pass")
        out = llm_layer_metrics(tracer, jobs)
        out["llm.driver_only_share"] = (
            median([driver_only_s(jobs, s) / s.duration for s in passes]), "ratio"
        )
        out.update({
            k: (float(v), "s" if k.endswith("_s") else ("B" if k.endswith("bytes") else "count"))
            for k, v in engine_counters(jobs_in(jobs, passes)).items()
        })
        return out

    def layer_map(self) -> dict[str, str]:
        m = {metric: "prep_s" for metric in LLM_CALLS.values()}
        m.update({"llm.cluster_jobs": "prep_s", "llm.driver_only_share": "prep_s",
                  "spark.*": "prep_s (timed passes)"})
        return m
