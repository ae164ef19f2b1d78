"""Workload ``crawl_daily``: a sequence of daily
``plans.pipeline.run_and_sink`` calls against a parquet warehouse
pre-seeded with many ``load_date`` partitions.

Days alternate between fresh days (most input codes unseen: fetch,
parse, ``mapInPandas`` extract, append) and recrawl days (most codes
known: snapshot reads, anti-joins, near-empty appends). The first
(fresh) day is warm-up; timed days follow until the run's seconds are
spent and each kind has run at least ``MIN_TIMED_PER_KIND`` times.
"""

from __future__ import annotations

import functools
import os
import time

import pandas as pd

from . import inputs as I
from .common import OpLog, fresh_dir, median
from .trace import (
    Tracer, driver_only_s, engine_counters, jobs_in, sql_metric,
)

NAME = "crawl_daily"
#: the first (fresh) day is warm-up
WARMUP_DAYS = 1
#: at least this many timed days of each kind, even past the deadline
MIN_TIMED_PER_KIND = 2

_TABLES = {
    "codes": ("procedure_codes", "code"),
    "modifiers": ("procedure_modifiers", "modifier"),
    "ndc": ("procedure_ndc", "ndc_alternate_id"),
}


def _codes_rows(inputs: I.CrawlInputs, templates: dict) -> pd.DataFrame:
    """Codes-table rows of the pre-seeded warehouse: each variant's
    parsed template record with the seeded code and keys."""
    from etl_procedure_codes_crawler_spark.functions.html_extract import (
        parse_procedure_page,
    )
    from etl_procedure_codes_crawler_spark.schemas import PROCEDURE_CODES_COLUMNS

    base = {}
    for variant in I.CRAWL_CODE_ROW_VARIANTS:
        spec = I.PageSpec("00000", variant, [], [], 0)
        rec = parse_procedure_page("00000", "", I.render_page(0, spec, templates))
        base[variant] = {c: rec[c] for c in PROCEDURE_CODES_COLUMNS}
    rows = []
    for code, load_date, i in inputs.seed_codes:
        spec = inputs.seed_pages[i]
        rec = dict(base[spec.variant], code=code, load_date=load_date)
        if spec.variant in ("cpt_normal", "hcpcs_normal"):
            rec["modifiers"] = [I._modifier(m)[0] for m in spec.modifiers]
            rec["ndc_alternate_id"] = [I._ndc(n)[0] for n in spec.ndcs]
        rows.append(rec)
    return pd.DataFrame(rows, columns=PROCEDURE_CODES_COLUMNS + ["load_date"])


def _spread_dates(rows: list[tuple], n_parts: int) -> list[tuple]:
    return [r + (I._load_date(i % n_parts),) for i, r in enumerate(rows)]


class CrawlDaily:
    name = NAME

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.inputs = I.crawl_inputs(seed)
        self.expected = I.expected_day_keys(self.inputs)
        self.templates = I.crawl_templates()
        n_parts = I.CRAWL_SIZES["seed_partitions"]
        self.seed_frames = {
            "codes": _codes_rows(self.inputs, self.templates),
            "modifiers": pd.DataFrame(
                _spread_dates(I.seed_modifier_rows(self.inputs), n_parts),
                columns=["modifier", "description", "load_date"],
            ),
            "ndc": pd.DataFrame(
                _spread_dates(I.seed_ndc_rows(self.inputs), n_parts),
                columns=["ndc_alternate_id", "drug_name", "labeler_name",
                         "hcpcs_dosage", "bill_unit", "load_date"],
            ),
        }
        self.warehouse = ""
        self.days_run: list[dict] = []
        self.decomp: list[dict] = []

    # ------------------------------------------------------------ setup
    def setup(self, spark, rep: int) -> None:
        """Seed the warehouse through the program's sink."""
        from etl_procedure_codes_crawler_spark import schemas as S
        from etl_procedure_codes_crawler_spark.sinks.parquet import (
            write_parquet_dataset,
        )
        from pyspark.sql.types import StringType, StructField, StructType

        self.warehouse = fresh_dir(os.path.join(self.run_dir, f"warehouse{rep}"))
        schemas = {
            "codes": S.PROCEDURE_CODES_SCHEMA,
            "modifiers": S.PROCEDURE_MODIFIERS_SCHEMA,
            "ndc": S.PROCEDURE_NDC_SCHEMA,
        }
        for key, (table, _) in _TABLES.items():
            schema = StructType(
                list(schemas[key].fields) + [StructField("load_date", StringType())]
            )
            # one file per load_date partition, as a daily load leaves it
            df = spark.createDataFrame(self.seed_frames[key], schema).repartition(
                "load_date"
            )
            write_parquet_dataset(
                df, path=os.path.join(self.warehouse, table),
                mode="append", partition_by=["load_date"],
            )

    # ------------------------------------------------------------- days
    def _run_day(self, spark, day: I.CrawlDay, tracer: Tracer, timed: bool):
        from etl_procedure_codes_crawler_spark.plans.pipeline import run_and_sink
        from etl_procedure_codes_crawler_spark.sources.fetcher import FixtureFetcher

        pages_dir = os.path.join(self.run_dir, "pages", f"day{day.index:03d}")
        I.write_day_pages(self.seed, day, pages_dir, self.templates)
        codes_df = spark.createDataFrame(
            pd.DataFrame({"code": day.codes}, dtype=object), "code string"
        )
        factory = functools.partial(FixtureFetcher, directory=pages_dir)
        t0 = time.perf_counter()
        with tracer.span("plans.run_and_sink", day=day.index, kind=day.kind,
                         timed=timed):
            result = run_and_sink(
                spark, codes_df, factory, self.warehouse,
                load_date=day.load_date,
            )
        seconds = time.perf_counter() - t0
        rec = {
            "day": day.index, "kind": day.kind, "timed": timed,
            "seconds": seconds, "pages": len(day.pages),
            "n_pages": int(result.extract_metrics.get("n_pages", -1)),
        }
        self.days_run.append(rec)
        return rec, pages_dir, codes_df

    def warmup(self, spark, tracer: Tracer) -> None:
        for day in self.inputs.days[:WARMUP_DAYS]:
            self._run_day(spark, day, tracer, timed=False)

    def measure(self, spark, seconds: float, tracer: Tracer, decompose: bool):
        deadline = time.perf_counter() + seconds
        counts = {"fresh": 0, "recrawl": 0}
        for day in self.inputs.days[WARMUP_DAYS:]:
            if time.perf_counter() >= deadline and min(counts.values()) >= MIN_TIMED_PER_KIND:
                break
            _, pages_dir, codes_df = self._run_day(spark, day, tracer, timed=True)
            counts[day.kind] += 1
            if decompose:
                # decomposition time is kept off the run's clock
                t0 = time.perf_counter()
                self._decompose(spark, day, pages_dir, codes_df, tracer)
                deadline += time.perf_counter() - t0

    # ---------------------------------------------------- decomposition
    def _decompose(self, spark, day, pages_dir, codes_df, tracer: Tracer):
        """Layer calls on copies of the day's inputs; the warehouse is
        only read (the day's own partition is filtered out, giving the
        snapshot the day started from)."""
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark import schemas as S
        from etl_procedure_codes_crawler_spark.functions.html_extract import (
            parse_procedure_page,
        )
        from etl_procedure_codes_crawler_spark.operators.cleaning import clean_codes
        from etl_procedure_codes_crawler_spark.operators.dedup import (
            anti_join_on_key, incremental_new_rows,
        )
        from etl_procedure_codes_crawler_spark.operators.extract import (
            extract_procedure_pages,
        )
        from etl_procedure_codes_crawler_spark.sinks.parquet import (
            with_load_date, write_parquet_dataset,
        )
        from etl_procedure_codes_crawler_spark.sources.fetcher import FixtureFetcher
        from etl_procedure_codes_crawler_spark.sources.parquet import (
            read_table_or_empty,
        )

        rec: dict = {"day": day.index, "kind": day.kind}
        schemas = {
            "codes": S.PROCEDURE_CODES_SCHEMA,
            "modifiers": S.PROCEDURE_MODIFIERS_SCHEMA,
            "ndc": S.PROCEDURE_NDC_SCHEMA,
        }
        paths = {k: os.path.join(self.warehouse, t) for k, (t, _) in _TABLES.items()}

        # sources: fixture fetch, driver-side, over the day's to-crawl codes
        fetcher = FixtureFetcher(directory=pages_dir)
        to_crawl = sorted(day.pages)
        with tracer.span("sources.fetch") as sp:
            pages = [fetcher.fetch(c) for c in to_crawl]
        rec["fetch_ms_per_page"] = 1e3 * sp.duration / max(1, len(to_crawl))
        # functions: parse, single-threaded in the driver
        with tracer.span("functions.parse") as sp:
            for code, page in zip(to_crawl, pages):
                parse_procedure_page(code, "", page.html or "")
        rec["parse_ms_per_page"] = 1e3 * sp.duration / max(1, len(to_crawl))
        # sources: snapshot reads (file listing) of the three tables
        with tracer.span("sources.snapshot_read") as sp:
            snap = {
                k: read_table_or_empty(spark, paths[k], schemas[k])
                for k in paths
            }
        rec["snapshot_read_s"] = sp.duration
        rec["snapshot_files"] = sum(_parquet_files(p)[0] for p in paths.values())
        del snap
        before = {
            k: spark.read.parquet(p).where(F.col("load_date") != day.load_date)
            for k, p in paths.items()
        }
        # operators: extraction alone, on the day's to-crawl codes
        factory = functools.partial(FixtureFetcher, directory=pages_dir)
        crawl_df = spark.createDataFrame(
            pd.DataFrame({"code": to_crawl}, dtype=object), "code string"
        )
        with tracer.span("operators.extract") as sp:
            extracted = extract_procedure_pages(crawl_df, factory)
            extracted.write.format("noop").mode("overwrite").save()
        rec["extract_s"] = sp.duration
        # operators: dedup of the rows the day offered, against the
        # snapshot it started from
        offered_mods = spark.createDataFrame(
            [I._modifier(m) for p in day.pages.values() for m in p.modifiers],
            schemas["modifiers"],
        )
        offered_ndc = spark.createDataFrame(
            [I._ndc(n) for p in day.pages.values() for n in p.ndcs],
            schemas["ndc"],
        )
        cleaned = clean_codes(codes_df, "code")
        with tracer.span("operators.dedup") as sp:
            kept = (
                anti_join_on_key(cleaned, before["codes"].select("code"), "code").count()
                + incremental_new_rows(
                    offered_mods, before["modifiers"].drop("load_date"), "modifier"
                ).count()
                + incremental_new_rows(
                    offered_ndc, before["ndc"].drop("load_date"), "ndc_alternate_id"
                ).count()
            )
        offered = cleaned.count() + offered_mods.count() + offered_ndc.count()
        rec["dedup_s"] = sp.duration
        rec["dedup_kept"] = kept
        rec["dedup_offered"] = offered
        # sinks: rewrite the day's appended rows to a scratch warehouse
        scratch = fresh_dir(os.path.join(self.run_dir, "sink_copy"))
        day_rows = {
            k: spark.read.parquet(p).where(F.col("load_date") == day.load_date)
            .drop("load_date").localCheckpoint(eager=True)
            for k, p in paths.items()
        }
        rows = sum(df.count() for df in day_rows.values())
        with tracer.span("sinks.write") as sp:
            for k, df in day_rows.items():
                write_parquet_dataset(
                    with_load_date(df, day.load_date),
                    path=os.path.join(scratch, k), mode="append",
                    partition_by=["load_date"],
                )
        files, size = _parquet_files(scratch)
        rec["write_s"] = sp.duration
        rec["files_written"] = files
        rec["bytes_per_row"] = size / max(1, rows)
        for df in day_rows.values():
            df.unpersist()
        self.decomp.append(rec)

    # ----------------------------------------------------------- checks
    def check(self, spark, ops: OpLog) -> None:
        """Per-day appended keys per table equal the generator's
        expected new keys (and are appended once); replaying the last
        day appends zero rows."""
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.plans.pipeline import run_and_sink
        from etl_procedure_codes_crawler_spark.sources.fetcher import FixtureFetcher

        dates = {self.inputs.days[r["day"]].load_date: r for r in self.days_run}
        got: dict[str, dict[str, list[str]]] = {}
        for key, (table, col) in _TABLES.items():
            rows = (
                spark.read.parquet(os.path.join(self.warehouse, table))
                .where(F.col("load_date").isin(list(dates)))
                .select(col, "load_date").collect()
            )
            for r in rows:
                # partition discovery reads load_date back as an integer
                got.setdefault(str(r["load_date"]), {}).setdefault(key, []).append(r[0])
        for load_date, rec in dates.items():
            want = self.expected[rec["day"]]
            have = got.get(load_date, {})
            bad = [
                k for k in _TABLES
                if sorted(have.get(k, [])) != sorted(want[k])
            ]
            if rec["n_pages"] != rec["pages"]:
                bad.append(f"extracted {rec['n_pages']} pages, want {rec['pages']}")
            if bad:
                ops.fail(f"day {rec['day']}: appended keys differ in {bad}")
            else:
                ops.ok()
        last = self.inputs.days[self.days_run[-1]["day"]]
        pages_dir = os.path.join(self.run_dir, "pages", f"day{last.index:03d}")
        try:
            replay = run_and_sink(
                spark,
                spark.createDataFrame(
                    pd.DataFrame({"code": last.codes}, dtype=object), "code string"
                ),
                functools.partial(FixtureFetcher, directory=pages_dir),
                self.warehouse,
                load_date=last.load_date,
            )
            n = replay.codes.count() + replay.modifiers.count() + replay.ndc.count()
        except Exception as exc:  # a raising replay is a failed op
            ops.fail(f"replay of day {last.index} raised {exc!r}")
            return
        if n:
            ops.fail(f"replay of day {last.index} appended {n} rows")
        else:
            ops.ok()

    # ---------------------------------------------------------- metrics
    def op_records(self) -> list[dict]:
        return self.days_run

    def metrics(self) -> dict[str, tuple[float, str]]:
        fresh = [r for r in self.days_run if r["timed"] and r["kind"] == "fresh"]
        recrawl = [r for r in self.days_run if r["timed"] and r["kind"] == "recrawl"]
        fresh_rate = median([r["pages"] / r["seconds"] for r in fresh])
        recrawl_p50 = median([r["seconds"] for r in recrawl])
        return {
            "fresh_pages_per_s": (fresh_rate, "pages/s"),
            "recrawl_day_p50_s": (recrawl_p50, "s"),
            "op_p50_s": (recrawl_p50, "s"),
            "items_per_s": (fresh_rate, "pages/s"),
        }

    def layer_metrics(self, tracer: Tracer, jobs) -> dict[str, tuple[float, str]]:
        days = [s for s in tracer.named("plans.run_and_sink") if s.attrs["timed"]]
        fresh = [s for s in days if s.attrs["kind"] == "fresh"]
        recrawl = [s for s in days if s.attrs["kind"] == "recrawl"]
        fresh_jobs = jobs_in(jobs, fresh)
        d = self.decomp
        dfresh = [r for r in d if r["kind"] == "fresh"]
        drec = [r for r in d if r["kind"] == "recrawl"]
        out = {
            "sources.fetch_ms_per_page": (median([r["fetch_ms_per_page"] for r in dfresh]), "ms"),
            "sources.snapshot_read_s": (median([r["snapshot_read_s"] for r in drec]), "s"),
            "sources.snapshot_files": (median([r["snapshot_files"] for r in drec]), "count"),
            "functions.parse_ms_per_page": (median([r["parse_ms_per_page"] for r in dfresh]), "ms"),
            "operators.extract_s": (median([r["extract_s"] for r in dfresh]), "s"),
            # Spark's Python-boundary timing metrics are in ms
            "operators.python_run_s": (
                sql_metric(fresh_jobs, "time to run Python workers") / 1e3 / len(fresh), "s"),
            "operators.python_boot_s": (
                (sql_metric(fresh_jobs, "time to start Python workers")
                 + sql_metric(fresh_jobs, "time to initialize Python workers"))
                / 1e3 / len(fresh), "s"),
            "operators.python_bytes_in": (
                sql_metric(fresh_jobs, "data sent to Python workers") / len(fresh), "B"),
            "operators.python_bytes_out": (
                sql_metric(fresh_jobs, "data returned from Python workers") / len(fresh), "B"),
            "operators.dedup_s": (median([r["dedup_s"] for r in drec]), "s"),
            "operators.dedup_kept_ratio": (
                sum(r["dedup_kept"] for r in drec) / max(1, sum(r["dedup_offered"] for r in drec)),
                "ratio"),
            "plans.driver_only_s": (
                median([driver_only_s(jobs, s) for s in recrawl]), "s"),
            "plans.jobs_per_day": (
                median([len(jobs_in(jobs, [s])) for s in days]), "count"),
            "sinks.write_s": (median([r["write_s"] for r in dfresh]), "s"),
            "sinks.files_written": (median([r["files_written"] for r in dfresh]), "count"),
            "sinks.bytes_per_row": (median([r["bytes_per_row"] for r in dfresh]), "B"),
            "sinks.warehouse_files": (float(_parquet_files(self.warehouse)[0]), "count"),
        }
        out.update(
            {k: (float(v), _unit(k)) for k, v in engine_counters(jobs_in(jobs, days)).items()}
        )
        return out

    def layer_map(self) -> dict[str, str]:
        return {
            "sources.fetch_ms_per_page": "fresh_pages_per_s",
            "sources.snapshot_read_s": "recrawl_day_p50_s",
            "sources.snapshot_files": "recrawl_day_p50_s",
            "functions.parse_ms_per_page": "fresh_pages_per_s",
            "operators.extract_s": "fresh_pages_per_s",
            "operators.python_run_s": "fresh_pages_per_s",
            "operators.python_boot_s": "fresh_pages_per_s",
            "operators.python_bytes_in": "fresh_pages_per_s",
            "operators.python_bytes_out": "fresh_pages_per_s",
            "operators.dedup_s": "recrawl_day_p50_s",
            "operators.dedup_kept_ratio": "recrawl_day_p50_s",
            "plans.driver_only_s": "recrawl_day_p50_s",
            "plans.jobs_per_day": "recrawl_day_p50_s",
            "sinks.write_s": "fresh_pages_per_s",
            "sinks.files_written": "fresh_pages_per_s",
            "sinks.bytes_per_row": "fresh_pages_per_s",
            "sinks.warehouse_files": "recrawl_day_p50_s",
            "spark.*": "recrawl_day_p50_s and fresh_pages_per_s (timed days)",
        }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "count"


def _parquet_files(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size
