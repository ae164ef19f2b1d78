"""Seeded input generators for the three workloads. Pure Python and
pyarrow: no Spark, so the same seed yields byte-identical inputs and
the planted shares can be checked without a session.

The planted shares and sizes below are the benchmark's stated input
properties; ``perfbench/test_inputs.py`` measures them on generated
inputs.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

from .common import FIXTURES

# ---------------------------------------------------------------- crawl

#: page variants built from the six ``tests/fixtures`` pages, with the
#: seeded mix of variants over the pages a day crawls
CRAWL_VARIANT_MIX = {
    "cpt_normal": 0.45,
    "hcpcs_normal": 0.30,
    "cpt_empty_tabs": 0.08,
    "deleted_code": 0.08,
    "deleted_hcpcs_listing": 0.05,
    "page_404": 0.04,
}
#: variants that append a codes row (status ok or deleted)
CRAWL_CODE_ROW_VARIANTS = {
    "cpt_normal", "hcpcs_normal", "cpt_empty_tabs", "deleted_code",
}
CRAWL_SIZES = {
    "universe": 100_000,        # distinct codes the input may draw
    "modifier_pool": 400,       # finite modifier key pool
    "ndc_pool": 30_000,         # finite NDC key pool
    "seed_partitions": 30,      # load_date partitions pre-seeded
    "seed_codes": 12_000,       # codes known before the first day
    "seed_modifier_share": 0.7,  # share of the modifier pool known
    "seed_ndc_share": 0.4,       # share of the NDC pool known
    "fresh_day_codes": 1_200,   # input rows of a fresh day
    "fresh_day_unseen_share": 0.9,
    "recrawl_day_codes": 1_800,  # input rows of a recrawl day
    "recrawl_day_unseen_share": 0.05,
    "dirty_share": 0.01,        # NULL / blank / 'false' input rows
    "duplicate_share": 0.02,    # repeated input rows
    "max_pad_paragraphs": 40,   # page size: 0..40 extra paragraphs
    "max_days": 24,             # more than a run reaches
}
_WORDS = (
    "patient provider service procedure dose injection visit exam "
    "assay report history therapy imaging clinic review supply"
).split()


def _fixture(name: str) -> str:
    with open(os.path.join(FIXTURES, f"{name}.html"), encoding="utf-8") as fh:
        return fh.read()


def _modifier(i: int) -> tuple[str, str]:
    alphabet = "0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"
    key = alphabet[i // len(alphabet) % len(alphabet)] + alphabet[i % len(alphabet)]
    return key, f"Modifier {key} description"


def _ndc(i: int) -> tuple[str, str, str, str, str]:
    return (
        f"{10000 + i // 97:05d}-{i % 9973:04d}-{i % 89:02d}",
        f"Drug{i}",
        f"Labeler{i % 311}",
        f"{(i % 40 + 1) * 5} MG",
        ("UN", "ML", "GM")[i % 3],
    )


def _universe_code(i: int) -> str:
    # CPT-like numeric codes first, then HCPCS-like letter codes
    if i < 80_000:
        return f"{10000 + i:05d}"
    i -= 80_000
    return f"{'JAEGKQ'[i // 9000 % 6]}{i % 9000 + 1000:04d}"


@dataclass
class PageSpec:
    code: str
    variant: str
    modifiers: list[int]
    ndcs: list[int]
    pad: int


@dataclass
class CrawlDay:
    index: int
    kind: str                   # "fresh" | "recrawl"
    load_date: str
    codes: list[str | None]     # raw input rows, dirty rows included
    pages: dict[str, PageSpec]  # page for every code not yet known


@dataclass
class CrawlInputs:
    seed: int
    seed_codes: list[tuple[str, str, int]]  # (code, load_date, page i)
    seed_pages: list[PageSpec]
    seed_modifiers: list[int]
    seed_ndcs: list[int]
    days: list[CrawlDay] = field(default_factory=list)


def _page_spec(seed: int, code: str) -> PageSpec:
    rng = random.Random(f"page:{seed}:{code}")
    variant = rng.choices(
        list(CRAWL_VARIANT_MIX), weights=list(CRAWL_VARIANT_MIX.values())
    )[0]
    mods: list[int] = []
    ndcs: list[int] = []
    if variant == "cpt_normal":
        # skewed draws: common modifiers recur on most pages
        mods = sorted({
            int(rng.paretovariate(1.2) * 3) % CRAWL_SIZES["modifier_pool"]
            for _ in range(rng.randint(1, 4))
        })
    if variant in ("cpt_normal", "hcpcs_normal"):
        ndcs = sorted({
            rng.randrange(CRAWL_SIZES["ndc_pool"])
            for _ in range(rng.randint(1, 3))
        })
    pad = rng.randint(0, CRAWL_SIZES["max_pad_paragraphs"])
    return PageSpec(code, variant, mods, ndcs, pad)


def _pad_html(rng: random.Random, n: int) -> str:
    return "".join(
        "    <p>" + " ".join(rng.choice(_WORDS) for _ in range(14)) + ".</p>\n"
        for _ in range(n)
    )


_CPT_MOD_ROWS = (
    "        <tr><td>25</td><td>Significant separately identifiable E/M service</td></tr>\n"
    "        <tr><td>59</td><td>Distinct procedural service</td></tr>\n"
)
_CPT_NDC_ROWS = (
    "        <tr><td>00002-1433-80</td><td>DrugA</td><td>LabelerA</td><td>10 MG</td><td>UN </td></tr>\n"
    "        <tr><td>00002-1434-80</td><td>DrugB</td><td>LabelerB</td><td>20 MG</td><td>ML</td></tr>\n"
)
_HCPCS_NDC_ROWS = (
    "        <tr><td>00009-0011-01</td><td>Tetracycline</td><td>Pharma Co</td><td>250 MG</td><td>UN</td></tr>\n"
)
_CPT_LAY_TAIL = "    <p>During the encounter the provider performs a focused history and exam.</p>\n"
_HCPCS_LAY_TAIL = "    <p>The provider injects tetracycline into the patient.</p>\n"


def render_page(seed: int, spec: PageSpec, templates: dict[str, str]) -> str:
    """HTML for one page: the fixture variant with the spec's modifier
    and NDC rows and ``pad`` extra lay-term paragraphs."""
    html = templates[spec.variant]
    rng = random.Random(f"pad:{seed}:{spec.code}")
    mod_rows = "".join(
        f"        <tr><td>{k}</td><td>{d}</td></tr>\n"
        for k, d in (_modifier(i) for i in spec.modifiers)
    )
    ndc_rows = "".join(
        "        <tr>" + "".join(f"<td>{v}</td>" for v in _ndc(i)) + "</tr>\n"
        for i in spec.ndcs
    )
    if spec.variant == "cpt_normal":
        html = html.replace("99213", spec.code)
        html = html.replace(_CPT_MOD_ROWS, mod_rows)
        html = html.replace(_CPT_NDC_ROWS, ndc_rows)
        html = html.replace(_CPT_LAY_TAIL, _CPT_LAY_TAIL + _pad_html(rng, spec.pad))
    elif spec.variant == "hcpcs_normal":
        html = html.replace("J0120", spec.code)
        html = html.replace(_HCPCS_NDC_ROWS, ndc_rows)
        html = html.replace(
            _HCPCS_LAY_TAIL, _HCPCS_LAY_TAIL + _pad_html(rng, spec.pad)
        )
    return html


def crawl_templates() -> dict[str, str]:
    templates = {name: _fixture(name) for name in CRAWL_VARIANT_MIX}
    for name, marker in (
        ("cpt_normal", _CPT_MOD_ROWS),
        ("cpt_normal", _CPT_NDC_ROWS),
        ("cpt_normal", _CPT_LAY_TAIL),
        ("hcpcs_normal", _HCPCS_NDC_ROWS),
        ("hcpcs_normal", _HCPCS_LAY_TAIL),
    ):
        if marker not in templates[name]:
            raise ValueError(f"fixture {name}.html changed: marker missing")
    return templates


def _load_date(i: int) -> str:
    import datetime

    return (datetime.date(2024, 1, 1) + datetime.timedelta(days=i)).strftime(
        "%Y%m%d"
    )


def crawl_inputs(seed: int) -> CrawlInputs:
    """The code universe, the pre-seeded warehouse's contents and the
    daily input plan (fresh days on even indexes, recrawl days on odd
    ones)."""
    s = CRAWL_SIZES
    rng = random.Random(f"crawl:{seed}")
    order = list(range(s["universe"]))
    rng.shuffle(order)
    codes = [_universe_code(i) for i in order]

    seed_pages = [_page_spec(seed, c) for c in codes[: s["seed_codes"]]]
    known = [p.code for p in seed_pages if p.variant in CRAWL_CODE_ROW_VARIANTS]
    seed_codes = [
        (p.code, _load_date(i % s["seed_partitions"]), i)
        for i, p in enumerate(seed_pages)
        if p.variant in CRAWL_CODE_ROW_VARIANTS
    ]
    mods = rng.sample(
        range(s["modifier_pool"]),
        int(s["modifier_pool"] * s["seed_modifier_share"]),
    )
    ndcs = rng.sample(range(s["ndc_pool"]), int(s["ndc_pool"] * s["seed_ndc_share"]))
    out = CrawlInputs(seed, seed_codes, seed_pages, sorted(mods), sorted(ndcs))

    next_unseen = s["seed_codes"]
    for d in range(s["max_days"]):
        kind = "fresh" if d % 2 == 0 else "recrawl"
        n = s[f"{kind}_day_codes"]
        n_unseen = int(n * s[f"{kind}_day_unseen_share"])
        unseen = codes[next_unseen: next_unseen + n_unseen]
        next_unseen += n_unseen
        repeat = rng.sample(known, n - n_unseen)
        rows: list[str | None] = unseen + repeat
        rows += rng.sample(rows, int(n * s["duplicate_share"]))
        dirty = [None, "", "   ", "false", "FALSE "]
        rows += [rng.choice(dirty) for _ in range(int(n * s["dirty_share"]))]
        rng.shuffle(rows)
        pages = {c: _page_spec(seed, c) for c in unseen}
        out.days.append(
            CrawlDay(d, kind, _load_date(s["seed_partitions"] + d), rows, pages)
        )
        known += [
            c for c, p in pages.items() if p.variant in CRAWL_CODE_ROW_VARIANTS
        ]
    return out


def write_day_pages(seed: int, day: CrawlDay, directory: str,
                    templates: dict[str, str]) -> None:
    """Stage one day's pages as ``<code>.html`` files."""
    os.makedirs(directory, exist_ok=True)
    for code, spec in day.pages.items():
        with open(os.path.join(directory, f"{code}.html"), "w",
                  encoding="utf-8") as fh:
            fh.write(render_page(seed, spec, templates))


def expected_day_keys(inputs: CrawlInputs) -> list[dict[str, set[str]]]:
    """Keys each day must append per table, replaying the pipeline's
    rules: clean (P1-P3) and distinct the input, crawl codes not yet in
    the codes table, emit codes rows for ok/deleted pages and
    modifier/NDC rows for ok pages, and append only keys not already in
    the table."""
    codes = {c for c, _, _ in inputs.seed_codes}
    mods = {_modifier(i)[0] for i in inputs.seed_modifiers}
    ndcs = {_ndc(i)[0] for i in inputs.seed_ndcs}
    out = []
    for day in inputs.days:
        cleaned = {
            c for c in day.codes
            if c is not None and c.strip() and c.strip().lower() != "false"
        }
        to_crawl = cleaned - codes
        new_codes, new_mods, new_ndcs = set(), set(), set()
        for c in to_crawl:
            spec = day.pages[c]
            if spec.variant in CRAWL_CODE_ROW_VARIANTS:
                new_codes.add(c)
            new_mods.update(_modifier(i)[0] for i in spec.modifiers)
            new_ndcs.update(_ndc(i)[0] for i in spec.ndcs)
        new_mods -= mods
        new_ndcs -= ndcs
        out.append({"codes": new_codes, "modifiers": new_mods, "ndc": new_ndcs})
        codes |= new_codes
        mods |= new_mods
        ndcs |= new_ndcs
    return out


def seed_modifier_rows(inputs: CrawlInputs) -> list[tuple[str, str]]:
    return [_modifier(i) for i in inputs.seed_modifiers]


def seed_ndc_rows(inputs: CrawlInputs) -> list[tuple]:
    return [_ndc(i) for i in inputs.seed_ndcs]


# ------------------------------------------------------ document corpora

#: stream_admission: planted shares of each staged file's documents
STREAM_PLANTED = {
    "exact_duplicate": 0.06,   # text equal to an earlier document's
    "head8_duplicate": 0.05,   # first 8 tokens equal, tail differs
    "head3_duplicate": 0.05,   # first 3 tokens equal, token 4 differs
    "boilerplate": 0.25,       # ends in one of the boilerplate passages
}
STREAM_SIZES = {
    "files": 40,               # staged files (one per micro-batch)
    "docs_per_file": 200,
    "sources": 6,
    "vocab": 5_000,
    "min_tokens": 18,
    "max_tokens": 90,
    "boilerplate_passages": 8,
    "block": 3,                # passage length in tokens
    "budget_files": 1,         # bound budgets bind after this many batches
    "bound_sources": 3,        # the largest sources get a binding budget
}
STREAM_SOURCE_WEIGHTS = [0.35, 0.25, 0.15, 0.12, 0.08, 0.05]

#: corpus_prep: planted shares of the corpus
CORPUS_PLANTED = {
    "near_duplicate": 0.15,    # a base doc with ~10% of tokens replaced
    "fragment": 0.08,          # a contiguous 55-80% slice of another doc
    "boilerplate": 0.20,       # ends in one of the boilerplate passages
}
CORPUS_SIZES = {
    "docs": 1_600,
    "sources": 8,
    "vocab": 3_000,
    "min_tokens": 24,
    "max_tokens": 140,
    "boilerplate_passages": 10,
    "block": 3,
}


def _tok(i: int) -> str:
    return f"t{i}"


def _body(rng: random.Random, vocab: int, lo: int, hi: int, block: int) -> list[str]:
    n = rng.randint(lo, hi)
    n -= n % block  # block-aligned, so an appended passage is a passage
    return [_tok(rng.randrange(vocab)) for _ in range(n)]


def _boilerplate(seed: int, tag: str, n: int, block: int) -> list[list[str]]:
    rng = random.Random(f"bp:{tag}:{seed}")
    return [[f"bp{rng.randrange(10**6)}" for _ in range(block)] for _ in range(n)]


def _exact_counts(n: int, shares: dict[str, float]) -> list[str]:
    kinds: list[str] = []
    for kind, share in shares.items():
        if kind != "boilerplate":
            kinds += [kind] * round(n * share)
    return kinds + ["unique"] * (n - len(kinds))


@dataclass
class StreamDoc:
    doc_id: int
    text: str
    source: str


def stream_docs(seed: int) -> list[list[StreamDoc]]:
    """One list of documents per staged file. Every file carries the
    planted shares exactly (rounded); a duplicate's origin is a
    uniformly drawn earlier document."""
    s = STREAM_SIZES
    rng = random.Random(f"stream:{seed}")
    bps = _boilerplate(seed, "stream", s["boilerplate_passages"], s["block"])
    sources = [f"src{i}" for i in range(s["sources"])]
    history: list[list[str]] = []   # token lists of every earlier doc
    files, doc_id = [], 0
    for _f in range(s["files"]):
        n = s["docs_per_file"]
        kinds = _exact_counts(n, STREAM_PLANTED)
        rng.shuffle(kinds)
        if not history:   # the very first doc has no origin to copy
            first = kinds.index("unique")
            kinds[0], kinds[first] = kinds[first], kinds[0]
        # a passage is appended to non-copies only, so the share is exact
        with_bp = set(rng.sample(
            [j for j, k in enumerate(kinds) if k != "exact_duplicate"],
            round(n * STREAM_PLANTED["boilerplate"]),
        ))
        docs = []
        for j, kind in enumerate(kinds):
            doc_id += 1
            body = _body(rng, s["vocab"], s["min_tokens"], s["max_tokens"], s["block"])
            if kind == "exact_duplicate":
                toks = list(rng.choice(history))
            else:
                if kind == "head8_duplicate":
                    origin = rng.choice([h for h in history[-500:] if len(h) >= 8])
                    body[:8] = origin[:8]
                elif kind == "head3_duplicate":
                    origin = rng.choice([h for h in history[-500:] if len(h) >= 8])
                    body[:3] = origin[:3]
                    if body[3] == origin[3]:
                        body[3] = _tok((int(origin[3][1:]) + 1) % s["vocab"])
                toks = body + (rng.choice(bps) if j in with_bp else [])
            history.append(toks)
            docs.append(StreamDoc(
                doc_id, " ".join(toks),
                rng.choices(sources, weights=STREAM_SOURCE_WEIGHTS)[0],
            ))
        files.append(docs)
    return files


def stream_budgets(files: list[list[StreamDoc]]) -> dict[str, int]:
    """Per-source token budgets. The ``bound_sources`` largest sources
    get 90% of their raw tokens over the first ``budget_files`` files,
    so their budgets bind within the first batches and stay bound; the
    others get all their raw tokens, so they never bind and every later
    batch still admits documents. Each timed batch then sees the same
    mix of budget rejections and admissions."""
    s = STREAM_SIZES
    early: dict[str, int] = {}
    total: dict[str, int] = {}
    for f, docs in enumerate(files):
        for d in docs:
            n = len(d.text.split())
            total[d.source] = total.get(d.source, 0) + n
            if f < s["budget_files"]:
                early[d.source] = early.get(d.source, 0) + n
    bound = {f"src{i}" for i in range(s["bound_sources"])}
    return {
        src: int(early[src] * 0.9) if src in bound else n
        for src, n in sorted(total.items())
    }


def write_stream_files(files: list[list[StreamDoc]], directory: str) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, docs in enumerate(files):
        table = pa.table(
            {
                "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
                "text": pa.array([d.text for d in docs], pa.string()),
                "source": pa.array([d.source for d in docs], pa.string()),
            }
        )
        path = os.path.join(directory, f"b{i:04d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


@dataclass
class CorpusDoc:
    doc_id: int
    text: str
    lang: str
    source: str


def corpus_docs(seed: int) -> list[CorpusDoc]:
    s = CORPUS_SIZES
    rng = random.Random(f"corpus:{seed}")
    bps = _boilerplate(seed, "corpus", s["boilerplate_passages"], s["block"])
    n = s["docs"]
    sources = [f"src{i}" for i in range(s["sources"])]
    src_weights = [1.0 / (i + 1) for i in range(s["sources"])]  # uneven sizes
    # the first tenth are base docs, so every derived doc has an origin
    planted = [k for k in _exact_counts(n, CORPUS_PLANTED) if k != "unique"]
    kinds = ["unique"] * n
    for pos, kind in zip(rng.sample(range(n // 10, n), len(planted)), planted):
        kinds[pos] = kind
    # passages go on non-fragments only, so the share is exact
    with_bp = set(rng.sample(
        [i for i, k in enumerate(kinds) if k != "fragment"],
        round(n * CORPUS_PLANTED["boilerplate"]),
    ))
    bases: list[list[str]] = []
    docs = []
    for i, kind in enumerate(kinds):
        if kind == "near_duplicate":
            toks = list(rng.choice(bases))
            for j in rng.sample(range(len(toks)), max(1, len(toks) // 10)):
                toks[j] = _tok(rng.randrange(s["vocab"]))
        elif kind == "fragment":
            base = rng.choice(bases)
            width = max(s["block"], int(len(base) * rng.uniform(0.55, 0.8)))
            start = rng.randint(0, len(base) - width)
            toks = base[start: start + width]
        else:
            toks = _body(rng, s["vocab"], s["min_tokens"], s["max_tokens"], s["block"])
            bases.append(toks)
        if i in with_bp:
            toks = toks + rng.choice(bps)
        docs.append(CorpusDoc(
            i + 1, " ".join(toks), rng.choice(["en", "de", "fr"]),
            rng.choices(sources, weights=src_weights)[0],
        ))
    return docs


def write_corpus(docs: list[CorpusDoc], directory: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
            "text": pa.array([d.text for d in docs], pa.string()),
            "lang": pa.array([d.lang for d in docs], pa.string()),
            "source": pa.array([d.source for d in docs], pa.string()),
            "n_chars": pa.array([len(d.text) for d in docs], pa.int64()),
        }
    )
    path = os.path.join(directory, "documents.parquet")
    pq.write_table(table, path)
    return path


def digest(obj) -> str:
    """Stable content hash of generated inputs (repr of plain data)."""
    return hashlib.sha256(repr(obj).encode()).hexdigest()
