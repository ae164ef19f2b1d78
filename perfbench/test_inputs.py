"""The benchmark's own input tests: the same seed yields identical
inputs, and the planted shares measured on generated inputs match the
stated ones. No Spark session is needed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import collections

import pytest

from perfbench import inputs as I


def _digest_crawl(seed: int) -> str:
    c = I.crawl_inputs(seed)
    templates = I.crawl_templates()
    pages = [
        I.render_page(seed, spec, templates)
        for day in c.days[:2] for spec in day.pages.values()
    ]
    return I.digest((c.seed_codes, c.seed_modifiers, c.seed_ndcs,
                     [(d.kind, d.load_date, d.codes) for d in c.days], pages))


def _digest_stream(seed: int) -> str:
    return I.digest([[(d.doc_id, d.text, d.source) for d in f]
                     for f in I.stream_docs(seed)])


def _digest_corpus(seed: int) -> str:
    return I.digest([(d.doc_id, d.text, d.lang, d.source)
                     for d in I.corpus_docs(seed)])


@pytest.mark.parametrize("digest", [_digest_crawl, _digest_stream, _digest_corpus])
def test_same_seed_same_inputs(digest):
    assert digest(5) == digest(5)
    assert digest(5) != digest(6)


def test_written_files_are_identical(tmp_path):
    import pyarrow.parquet as pq

    for run in ("a", "b"):
        I.write_stream_files(I.stream_docs(3)[:2], str(tmp_path / run / "s"))
        I.write_corpus(I.corpus_docs(3), str(tmp_path / run / "c"))
    for sub in ("s/b0000.parquet", "s/b0001.parquet", "c/documents.parquet"):
        a = pq.read_table(tmp_path / "a" / sub)
        b = pq.read_table(tmp_path / "b" / sub)
        assert a.equals(b)


# ---------------------------------------------------------------- crawl

def test_crawl_day_plan_shares():
    s = I.CRAWL_SIZES
    c = I.crawl_inputs(7)
    known = {code for code, _, _ in c.seed_codes}
    for day in c.days[:6]:
        n = s[f"{day.kind}_day_codes"]
        clean = [x for x in day.codes
                 if x is not None and x.strip() and x.strip().lower() != "false"]
        assert len(day.codes) - len(clean) == int(n * s["dirty_share"])
        assert len(clean) - len(set(clean)) == int(n * s["duplicate_share"])
        unseen = set(clean) - known
        assert len(unseen) == int(n * s[f"{day.kind}_day_unseen_share"])
        assert unseen == set(day.pages)
        known |= {code for code, p in day.pages.items()
                  if p.variant in I.CRAWL_CODE_ROW_VARIANTS}
    assert len({d for _, d, _ in c.seed_codes}) == s["seed_partitions"]


def test_crawl_variant_mix():
    c = I.crawl_inputs(8)
    specs = [p for day in c.days[::2][:4] for p in day.pages.values()]
    counts = collections.Counter(p.variant for p in specs)
    for variant, share in I.CRAWL_VARIANT_MIX.items():
        assert abs(counts[variant] / len(specs) - share) < 0.03, variant


def test_crawl_pages_parse_to_their_keys():
    from etl_procedure_codes_crawler_spark.functions.html_extract import (
        parse_procedure_page,
    )

    c = I.crawl_inputs(9)
    templates = I.crawl_templates()
    status = {"cpt_normal": "ok", "hcpcs_normal": "ok", "cpt_empty_tabs": "ok",
              "deleted_code": "deleted", "deleted_hcpcs_listing": "deleted_listing",
              "page_404": "error_404"}
    specs = list(c.days[0].pages.values())[:120]
    for spec in specs:
        rec = parse_procedure_page(spec.code, "", I.render_page(9, spec, templates))
        assert rec["status"] == status[spec.variant]
        mods = [m for m, _ in rec["modifier_rows"] or []]
        ndcs = [n[0] for n in rec["ndc_rows"] or []]
        assert mods == [I._modifier(i)[0] for i in spec.modifiers]
        assert ndcs == [I._ndc(i)[0] for i in spec.ndcs]


# --------------------------------------------------------------- stream

def _measure_stream_file(docs, history_texts, history_heads8, history_heads3, bps):
    counts = collections.Counter()
    for d in docs:
        toks = d.text.split()
        if d.text in history_texts:
            counts["exact_duplicate"] += 1
        elif tuple(toks[:8]) in history_heads8:
            counts["head8_duplicate"] += 1
        elif tuple(toks[:3]) in history_heads3:
            counts["head3_duplicate"] += 1
        if d.text not in history_texts and tuple(toks[-3:]) in bps:
            counts["boilerplate"] += 1
        history_texts.add(d.text)
        history_heads8.add(tuple(toks[:8]))
        history_heads3.add(tuple(toks[:3]))
    return counts


def test_stream_planted_shares_per_file():
    files = I.stream_docs(4)
    bps = {tuple(p) for p in I._boilerplate(4, "stream", I.STREAM_SIZES["boilerplate_passages"],
                                            I.STREAM_SIZES["block"])}
    texts, h8, h3 = set(), set(), set()
    n = I.STREAM_SIZES["docs_per_file"]
    for docs in files:
        counts = _measure_stream_file(docs, texts, h8, h3, bps)
        for kind, share in I.STREAM_PLANTED.items():
            assert counts[kind] == round(n * share), (kind, counts)


def test_stream_budgets_bind_partway():
    files = I.stream_docs(4)
    budgets = I.stream_budgets(files)
    k = I.STREAM_SIZES["budget_files"]
    bound = {f"src{i}" for i in range(I.STREAM_SIZES["bound_sources"])}

    def tokens(src, upto):
        return sum(len(d.text.split()) for f in files[:upto] for d in f
                   if d.source == src)

    for src, budget in budgets.items():
        if src in bound:
            # binds within the first k files
            assert tokens(src, k - 1) < budget < tokens(src, k), src
        else:
            # never binds: the budget covers every token the source offers
            assert budget >= tokens(src, len(files)), src


# --------------------------------------------------------------- corpus

def _shingles(toks, k=3):
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_corpus_planted_shares():
    docs = I.corpus_docs(6)
    n = len(docs)
    assert n == I.CORPUS_SIZES["docs"]
    toks = [d.text.split() for d in docs]
    padded = [" " + d.text + " " for d in docs]
    fragments = {
        i for i, d in enumerate(docs)
        if any(j != i and len(padded[j]) > len(padded[i]) and padded[i] in padded[j]
               for j in range(n))
    }
    postings = collections.defaultdict(set)
    near = set()
    for i, t in enumerate(toks):
        sh = _shingles(t)
        if i not in fragments:
            cands = set().union(*(postings[s] for s in sh)) if sh else set()
            for j in cands:
                other = _shingles(toks[j])
                if len(sh & other) / len(sh | other) >= 0.3:
                    near.add(i)
                    break
        for s in sh:
            postings[s].add(i)
    bps = {tuple(p) for p in I._boilerplate(6, "corpus", I.CORPUS_SIZES["boilerplate_passages"],
                                            I.CORPUS_SIZES["block"])}
    boiler = {i for i, t in enumerate(toks) if tuple(t[-3:]) in bps}
    assert len(near) == round(n * I.CORPUS_PLANTED["near_duplicate"])
    assert len(fragments) == round(n * I.CORPUS_PLANTED["fragment"])
    assert len(boiler) == round(n * I.CORPUS_PLANTED["boilerplate"])
    sizes = collections.Counter(d.source for d in docs)
    assert max(sizes.values()) > 3 * min(sizes.values())   # uneven sources
