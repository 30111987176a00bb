"""Seeded input generators.  The same seed gives the same inputs; the
program under test sees only what these functions write.

* :func:`er_pages` — the ER corpus: whole planted entities chosen by
  seed from the program's own page synthesizer (``synth_pages``), so the
  vocabulary and duplicate shape are the pipeline's reference shape at
  every seed, up to a page count that is the same at every seed.
* :func:`web_corpus` — the curation corpus: multi-line web pages with
  per-domain boilerplate and a javascript line, plus planted pages that
  each curation stage must remove, and a benchmark-passage table for
  decontamination.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from entity_resolution_pipeline_spark.config import STOPWORDS

# ---------------------------------------------------------------------------
# ER pages
# ---------------------------------------------------------------------------


def er_pages(spark, seed: int, n_pages: int):
    """Exactly ``n_pages`` pages of whole planted entities, picked from
    ``synth_pages(n_pages)`` (about 2.1 pages per entity) in an order
    set by ``seed``; → (pages, the picked entity ids).  The synthesizer
    is deterministic, so the ids identify the pages."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.sources.synth import synth_pages

    pool = synth_pages(spark, n_pages)
    sizes = dict(pool.groupBy("entity_id").count().collect())
    order = sorted(sizes, key=lambda e: hashlib.sha256(f"{seed}:{e}".encode()).digest())
    picked, total = [], 0
    for e in order:  # fill to the exact page count; singletons close the gap
        if total + sizes[e] <= n_pages:
            picked.append(e)
            total += sizes[e]
    if total != n_pages:
        raise ValueError(f"pool cannot fill {n_pages} pages (got {total})")
    ids = spark.createDataFrame([(e,) for e in picked], "entity_id long")
    return pool.join(F.broadcast(ids), "entity_id", "left_semi"), picked


# ---------------------------------------------------------------------------
# Web corpus for the curation chain
# ---------------------------------------------------------------------------

_STOP = tuple(w for w in STOPWORDS if len(w) > 1)
_TLDS = ("com", "org", "co.uk")
SPAN_K = 16  # duplicate-span width the curation run uses
_SYNDICATED_LEN = 24  # ≥ SPAN_K: a shared paragraph spans removes
_CHUNK_LEN = 8  # < SPAN_K: a leaked benchmark chunk spans leaves alone


def _vocab(tag: str, size: int) -> list[str]:
    """Deterministic pseudo-words (3..9 letters), disjoint across tags."""
    rng = random.Random(f"vocab:{tag}")
    consonants, vowels = "bcdfghjklmnprstvz", "aeiou"
    words: set[str] = set()
    while len(words) < size:
        n = rng.randint(2, 4)
        w = "".join(rng.choice(consonants) + rng.choice(vowels) for _ in range(n))
        w = w[: rng.randint(3, len(w))] + tag[0]  # tag letter keeps vocabularies apart
        if w not in STOPWORDS:
            words.add(w)
    return sorted(words)


_WORDS = _vocab("x", 6000)
_BENCH_WORDS = _vocab("q", 1500)


@dataclass
class WebCorpus:
    docs: list[tuple]  # (doc_id, url, ts, text, lang)
    bench: list[tuple]  # (doc_id, text)
    planted: dict[str, list[int]] = field(default_factory=dict)  # reason → ids
    syndicated: list[str] = field(default_factory=list)  # shared paragraphs
    rates: dict[str, float] = field(default_factory=lambda: {"en": 0.8, "de": 0.5})

    def removed_before_sample(self) -> set[int]:
        return {i for ids in self.planted.values() for i in ids}

    def expected_funnel(self) -> dict[str, int]:
        n = len(self.docs)
        p = {k: len(v) for k, v in self.planted.items()}
        after_lc = n - p["old_capture"]
        after_gate = after_lc - p["short"]
        after_lf = after_gate - p["template"]
        after_exact = after_lf - p["exact"]
        after_near = after_exact - p["near"]
        return {
            "input": n,
            "url_canon": n,
            "latest_capture": after_lc,
            "gate": after_gate,
            "line_filter": after_lf,
            "boilerplate": after_lf,
            "spans": after_lf,
            "exact": after_exact,
            "neardup": after_near,
            "decontaminate": after_near - p["contaminated"],
        }

    def expected_sample(self, survivors: dict[int, str]) -> set[int]:
        """The stratified sample the curation config must keep, from
        ``{doc_id: lang}`` of the decontaminated docs (same md5 bucket
        rule as ``operators.corpus.stratified_sample``)."""
        keep = set()
        for doc_id, lang in survivors.items():
            h = hashlib.md5(f"strat{doc_id}".encode()).hexdigest()
            bucket = int(h[:8], 16) % 1_000_000
            if bucket < round(self.rates.get(lang, 0.0) * 1_000_000):
                keep.add(doc_id)
        return keep

    def digest(self) -> str:
        h = hashlib.sha256()
        for row in (*self.docs, ("bench",), *self.bench):
            h.update(repr(row).encode())
        return h.hexdigest()


def _sentence(rng: random.Random, lo: int = 9, hi: int = 15) -> str:
    words = [
        rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(_WORDS)
        for _ in range(rng.randint(lo, hi))
    ]
    return " ".join(words) + "."


def _recase(text: str) -> str:
    """Capitalize every non-stopword token of the body lines: equal to
    ``text`` after the dedup normalizer (lowercase, strip punctuation),
    but sharing no ``SPAN_K``-token window with it, so duplicate-span
    removal leaves the copy whole for the dedup stages to find."""
    return " ".join(
        t if t.rstrip(".") in STOPWORDS else t[:1].upper() + t[1:]
        for t in text.split(" ")
    )


def web_corpus(seed: int, n_base: int) -> WebCorpus:
    rng = random.Random(f"web:{seed}")
    n_domains = max(4, n_base // 60)
    domains = [
        f"{rng.choice(('news', 'blog', 'shop', 'wiki'))}{d}.{_TLDS[d % 3]}"
        for d in range(n_domains)
    ]
    footer = {
        d: f"copyright {d} all rights reserved and the terms of use apply here."
        for d in domains
    }
    js = "please enable javascript to see the comments on this page."
    bench = [
        (i, " ".join(rng.choice(_BENCH_WORDS) for _ in range(30)))
        for i in range(max(8, n_base // 25))
    ]

    docs: list[tuple] = []
    bodies: list[list[str]] = []  # body lines of each base doc
    meta: list[tuple[str, str, int, str]] = []  # (domain, path, ts, lang)
    for i in range(n_base):
        dom = domains[i % n_domains]
        path = f"/{rng.choice(('a', 'p', 'story', 'item'))}/{i}-{rng.randrange(10**6)}"
        ts = 1_700_000_000 + rng.randrange(10**7)
        lang = "de" if rng.random() < 0.2 else "en"
        bodies.append([_sentence(rng) for _ in range(rng.randint(6, 9))])
        meta.append((dom, path, ts, lang))

    # disjoint roles for base docs: consecutive slices of a seeded shuffle
    order = rng.sample(range(n_base), n_base)
    n_synd = max(1, n_base // 200)
    sizes = [max(2, n_base // 30), 4 * n_synd, max(2, n_base // 20), max(2, n_base // 20)]
    cuts = [sum(sizes[:i]) for i in range(len(sizes) + 1)]
    contaminated, synd, exact_src, near_src = (order[a:b] for a, b in zip(cuts, cuts[1:]))
    capture_src = order[cuts[-1] : cuts[-1] + max(2, n_base // 12)]
    synd_groups = [synd[4 * g : 4 * g + 4] for g in range(n_synd)]

    for i in contaminated:
        passage = rng.choice(bench)[1].split()
        at = rng.randrange(len(passage) - _CHUNK_LEN)
        chunk = " ".join(passage[at : at + _CHUNK_LEN])
        line = rng.randrange(len(bodies[i]))
        bodies[i][line] = bodies[i][line][:-1] + " " + chunk + "."
    syndicated = []
    for group in synd_groups:
        para = _sentence(rng, _SYNDICATED_LEN, _SYNDICATED_LEN)
        syndicated.append(para)
        for i in group:
            bodies[i].insert(rng.randrange(len(bodies[i]) + 1), para)

    def page(dom: str, body: list[str]) -> str:
        return "\n".join([js, *body, footer[dom]])

    for i, (dom, path, ts, lang) in enumerate(meta):
        docs.append((i, f"https://{dom}{path}", ts, page(dom, bodies[i]), lang))

    planted: dict[str, list[int]] = {k: [] for k in (
        "old_capture", "short", "template", "exact", "near", "contaminated")}
    planted["contaminated"] = sorted(contaminated)

    def add(reason: str, url: str, ts: int, text: str, lang: str) -> None:
        doc_id = len(docs)
        docs.append((doc_id, url, ts, text, lang))
        planted[reason].append(doc_id)

    variants = (
        "https://{d}{p}?utm_source=feed",
        "https://www.{d}{p}?fbclid=x{r}",
        "HTTPS://{D}:443{p}",
        "https://{d}{p}?utm_medium=mail&gclid={r}#top",
    )
    for k, i in enumerate(capture_src):
        dom, path, ts, lang = meta[i]
        for _ in range(1 + k % 2):
            url = rng.choice(variants).format(
                d=dom, D=dom.upper(), p=path, r=rng.randrange(10**6)
            )
            body = [_sentence(rng) for _ in range(rng.randint(6, 9))]
            add("old_capture", url, ts - rng.randint(1, 10**6), page(dom, body), lang)
    for i in exact_src:
        dom, path, ts, lang = meta[i]
        body = [_recase(line) for line in bodies[i]]
        add("exact", f"https://{dom}{path}/copy", ts, page(dom, body), lang)
    for i in near_src:
        dom, path, ts, lang = meta[i]
        body = [_recase(line) for line in bodies[i]]
        body[-1] = body[-1][:-1] + " " + rng.choice(_WORDS) + "."
        add("near", f"https://{dom}{path}/mirror", ts, page(dom, body), lang)
    for k in range(max(2, n_base // 25)):
        dom = domains[k % n_domains]
        add("short", f"https://{dom}/missing/{k}", 1_700_000_000 + k, "page not found.", "en")
    for k in range(max(2, n_base // 30)):
        dom = domains[k % n_domains]
        body = [_sentence(rng) for _ in range(4)] + ["var config = { mode: 1 };"]
        add("template", f"https://{dom}/tmpl/{k}", 1_700_000_000 + k, page(dom, body), "en")

    return WebCorpus(docs=docs, bench=bench, planted=planted, syndicated=syndicated)


def write_web_corpus(corpus: WebCorpus, docs_path: str, bench_path: str) -> None:
    """Each table as ONE parquet file, the way crawl inputs arrive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, urls, tss, texts, langs = zip(*corpus.docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "url": pa.array(urls, pa.string()),
                "ts": pa.array(tss, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
            }
        ),
        docs_path,
    )
    bids, btexts = zip(*corpus.bench)
    pq.write_table(
        pa.table({"doc_id": pa.array(bids, pa.int64()), "text": pa.array(btexts, pa.string())}),
        bench_path,
    )
