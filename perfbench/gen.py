"""Seeded input generator for the KG-engine benchmark.

Everything the engine sees is produced here from ``(workload, seed)`` and
written to files: an OBO-graph JSON ontology and, for the crawl workloads,
a parquet ``pages`` table split into several files. The same seed gives the
same bytes. The generator also returns the ground truth the oracle needs
(term records as authored and each page's expected extracted text), so the
oracle never reads the engine's parsed tables.

Design of the synthetic data:

- Surface forms (term names and synonyms) are built from pseudo-words made
  of consonant-vowel syllables; page filler is drawn from an English word
  list. A filler page therefore almost never contains a surface by
  accident, so the mention rate is the one the workload asks for.
- Some related synonyms are borrowed from another term's name, so one
  surface can map to several terms and the rerank has to choose.
- Cross-references are drawn from a shared pool, so some terms share an
  xref and canonicalization merges them into one component.
- A small share of pages are script-only shells whose HTML extracts to
  nothing; the record's ``text`` column carries the passage instead, which
  exercises the engine's fallback from extraction to ``text``.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
from dataclasses import dataclass, field

OBO = "http://purl.obolibrary.org/obo"
OIO = "http://www.geneontology.org/formats/oboInOwl"
NS_PRED = f"{OIO}#hasOBONamespace"
DBXREF_PRED = f"{OIO}#hasDbXref"
SYN_PREDS = {
    "exact": "hasExactSynonym",
    "narrow": "hasNarrowSynonym",
    "broad": "hasBroadSynonym",
    "related": "hasRelatedSynonym",
}

_CONSONANTS = "bdgklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]

FILLER_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are or "
    "his from at which but have an had they you were their one all we can her "
    "has there been if more when will would who so no out up into do than "
    "only other some time could these two may first then any like my now over "
    "such our man me even most made after also did many before must through "
    "back years where much your way well down should because each just those "
    "people how too little state good very make world still own see men work "
    "long get here between both life being under never day same another know "
    "while last might us great old year off come since against go came right "
    "used take three study sample cohort patient clinical trial result measure "
    "protocol analysis report method evidence review outcome signal marker "
    "tissue cell growth level dose response effect group control baseline "
    "follow week month site region survey index record table figure section "
    "source article journal editor author question answer process system"
).split()

HOSTS = (
    "health.example.org",
    "med.example.net",
    "journal.example.edu",
    "wiki.example.io",
    "news.example.co",
    "lab.example.ac",
)
HUB_HOST = "hub.example.com"

_TEMPLATES = (
    "Patients with {m} often present late in the course.",
    "Recent work describes {m} in molecular detail.",
    "The review summarizes treatment options for {m}.",
    "Researchers observed {m} in a cohort of subjects.",
    "Clinical guidelines for {m} were updated this year.",
    "We measured markers associated with {m} across samples.",
    "A model recapitulates key features of {m}.",
    "Early screening reduces mortality attributable to {m}.",
)

_NAV = (
    '<nav class="top"><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav>'
)
_FOOTER = (
    "<footer>(c) 2026 Example Publishing. All rights reserved. "
    '<a href="/privacy">Privacy</a></footer>'
)
_SCRIPT = "<script>window.analytics&&analytics.track('pv');</script>"
_STYLE = "<style>body{font-family:serif}</style>"


@dataclass(frozen=True)
class Spec:
    """One workload's input shape."""

    n_terms: int
    n_pages: int = 0  # crawl workloads
    n_splits: int = 8  # parquet files the pages are written as
    page_paragraphs: tuple[int, int] = (1, 3)
    paragraph_sentences: tuple[int, int] = (1, 1)
    mention_page_rate: float = 0.85  # share of pages with a planted mention
    mention_sentence_rate: float = 0.8  # share of sentences with one, on those pages
    hub_share: float = 0.3
    fallback_rate: float = 0.02
    n_passages: int = 0  # resolve workload: distinct passages in the loop
    passage_mention_rate: float = 0.85


SPECS = {
    # ~650 B pages, almost all mentioning one of ~20 terms.
    "crawl_short": Spec(n_terms=20, n_pages=12_000),
    # ~20 KB pages, a minority mentioning one of 20k terms.
    "crawl_long": Spec(
        n_terms=20_000,
        n_pages=600,
        page_paragraphs=(36, 44),
        paragraph_sentences=(6, 9),
        mention_page_rate=0.3,
        mention_sentence_rate=0.01,
    ),
    # Short passages against the same 20k-term ontology.
    "resolve_interactive": Spec(n_terms=20_000, n_passages=200),
}


@dataclass
class Term:
    term_id: str
    uri: str
    name: str
    definition: str
    synonyms: list[tuple[str, str]] = field(default_factory=list)  # (kind, val)
    xrefs: list[str] = field(default_factory=list)
    def_xrefs: list[str] = field(default_factory=list)
    dbxrefs: list[str] = field(default_factory=list)

    def surfaces(self) -> list[str]:
        return [self.name, *(v for _, v in self.synonyms)]


# every word a page can hold besides the surfaces; a pseudo-word inside one
# of them could make a filler page mention a term by accident
_PAGE_WORDS = "|" + "|".join(FILLER_WORDS + " ".join(_TEMPLATES).lower().split()) + "|"


def _word(rng: random.Random, lo: int = 2, hi: int = 3) -> str:
    while True:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(lo, hi)))
        if w not in _PAGE_WORDS:
            return w


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(_word(rng) for _ in range(rng.randint(lo, hi)))


def _sentence(rng: random.Random, lo: int = 8, hi: int = 16) -> str:
    words = rng.choices(FILLER_WORDS, k=rng.randint(lo, hi))
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def make_terms(rng: random.Random, n: int) -> list[Term]:
    xref_pool = max(4 * n, 8)
    terms: list[Term] = []
    for i in range(n):
        prefix = "BMX" if i % 5 == 0 else "BMK"
        tail = f"{prefix}_{i + 1:07d}"
        t = Term(
            term_id=tail.replace("_", ":"),
            uri=f"{OBO}/{tail}",
            name=_phrase(rng, 2, 3),
            definition=_sentence(rng, 6, 12) if rng.random() < 0.95 else "",
        )
        for _ in range(rng.randint(0, 2)):
            syn = _phrase(rng, 1, 4)
            if len(syn) < 6:
                syn += " " + _word(rng)
            if rng.random() < 0.1:
                syn = syn.title()  # the scan is case-insensitive
            t.synonyms.append(("exact", syn))
        for kind in ("narrow", "broad", "related"):
            if rng.random() < 0.3:
                t.synonyms.append((kind, _phrase(rng, 2, 4)))
        if terms and rng.random() < 0.1:
            # a surface shared with another term: ambiguous mention
            t.synonyms.append(("related", rng.choice(terms).name))
        t.xrefs = [f"XR:{rng.randrange(xref_pool)}" for _ in range(rng.randint(0, 2))]
        if rng.random() < 0.2 and t.definition:  # they live on the definition
            t.def_xrefs = [f"XR:{rng.randrange(xref_pool)}"]
        if rng.random() < 0.1:
            t.dbxrefs = [f"XR:{rng.randrange(xref_pool)}"]
        terms.append(t)
    return terms


def obo_document(terms: list[Term]) -> dict:
    nodes = []
    for t in terms:
        meta: dict = {
            "basicPropertyValues": [{"pred": NS_PRED, "val": "benchmark_ontology"}]
            + [{"pred": DBXREF_PRED, "val": x} for x in t.dbxrefs],
        }
        if t.definition:
            meta["definition"] = {"val": t.definition, "xrefs": t.def_xrefs}
        if t.synonyms:
            meta["synonyms"] = [
                {"pred": SYN_PREDS[k], "val": v, "xrefs": []} for k, v in t.synonyms
            ]
        if t.xrefs:
            meta["xrefs"] = [{"val": x} for x in t.xrefs]
        nodes.append({"id": t.uri, "lbl": t.name, "type": "CLASS", "meta": meta})
    return {"graphs": [{"id": f"{OBO}/benchmark.owl", "nodes": nodes}]}


def _html(title: str, paragraphs: list[str]) -> str:
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>{_STYLE}{_SCRIPT}"
        f"</head><body>{_NAV}<header><h1>{title}</h1></header>"
        f"<main><article>{body}</article></main>{_FOOTER}{_SCRIPT}"
        "</body></html>"
    )


def _shell_html(title: str) -> str:
    """A script-rendered page: nothing survives extraction."""
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>{_SCRIPT}</head>"
        f"<body>{_NAV}<noscript>Enable JavaScript.</noscript>{_SCRIPT}"
        "</body></html>"
    )


@dataclass
class Page:
    url: str
    warc_ts: _dt.datetime
    html: bytes
    text: str  # the record's text column
    lang: str
    expected_extract: str  # what the extractor must return for ``html``


def make_pages(
    rng: random.Random, terms: list[Term], spec: Spec, seed: int
) -> list[Page]:
    surfaces = [s for t in terms for s in t.surfaces()]
    epoch = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
    n = spec.n_pages
    # exact shares, so two seeds differ in content but not in proportions
    hub = _exact_share(rng, n, spec.hub_share)
    mentioning = _exact_share(rng, n, spec.mention_page_rate)
    shells = _exact_share(rng, n, spec.fallback_rate)
    pages = []
    for i in range(n):
        host = HUB_HOST if i in hub else rng.choice(HOSTS)
        url = f"https://{host}/s{seed}/doc/{i:07d}"
        mentions = i in mentioning
        planted = 0
        paragraphs = []
        for _ in range(rng.randint(*spec.page_paragraphs)):
            sentences = []
            for _ in range(rng.randint(*spec.paragraph_sentences)):
                if mentions and rng.random() < spec.mention_sentence_rate:
                    sentences.append(rng.choice(_TEMPLATES).format(m=rng.choice(surfaces)))
                    planted += 1
                else:
                    sentences.append(_sentence(rng))
            paragraphs.append(" ".join(sentences))
        if mentions and not planted:
            paragraphs[-1] += " " + rng.choice(_TEMPLATES).format(m=rng.choice(surfaces))
        text = "\n".join(" ".join(p.split()) for p in paragraphs)
        title = f"Document {i}"
        lang = "en" if rng.random() < 0.9 else rng.choice(["es", "de"])
        if i in shells:
            html, expected = _shell_html(title), ""
        else:
            html, expected = _html(title, paragraphs), text
        pages.append(
            Page(url, epoch + _dt.timedelta(seconds=61 * i), html.encode(), text, lang, expected)
        )
    return pages


def _exact_share(rng: random.Random, n: int, share: float) -> set[int]:
    return set(rng.sample(range(n), round(share * n)))


def make_passages(rng: random.Random, terms: list[Term], spec: Spec) -> list[str]:
    surfaces = [s for t in terms for s in t.surfaces()]
    mentioning = _exact_share(rng, spec.n_passages, spec.passage_mention_rate)
    out = []
    for i in range(spec.n_passages):
        parts = [_sentence(rng, 6, 12)]
        if i in mentioning:
            parts.append(rng.choice(_TEMPLATES).format(m=rng.choice(surfaces)))
        parts.append(_sentence(rng, 6, 12))
        out.append(" ".join(parts))
    return out


def write_pages(pages: list[Page], out_dir: str, n_splits: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(out_dir, exist_ok=True)
    n = len(pages)
    for k in range(n_splits):
        chunk = pages[k * n // n_splits : (k + 1) * n // n_splits]
        table = pa.table(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [p.warc_ts for p in chunk],
                "html": [p.html for p in chunk],
                "text": [p.text for p in chunk],
                "lang": [p.lang for p in chunk],
            },
            schema=schema,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{k:05d}.parquet"))


@dataclass
class Inputs:
    spec: Spec
    terms: list[Term]
    pages: list[Page]
    passages: list[str]
    ontology_path: str
    pages_path: str | None


def generate(workload: str, seed: int, out_dir: str, spec: Spec | None = None) -> Inputs:
    """Write the workload's inputs under ``out_dir`` and return them
    (``spec`` replaces the workload's shape, for small test inputs)."""
    spec = spec or SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    terms = make_terms(rng, spec.n_terms)
    os.makedirs(out_dir, exist_ok=True)
    ontology_path = os.path.join(out_dir, "ontology.json")
    with open(ontology_path, "w") as f:
        json.dump(obo_document(terms), f, separators=(",", ":"))
    pages = make_pages(rng, terms, spec, seed)
    pages_path = None
    if pages:
        pages_path = os.path.join(out_dir, "pages")
        write_pages(pages, pages_path, spec.n_splits)
    passages = make_passages(rng, terms, spec)
    return Inputs(spec, terms, pages, passages, ontology_path, pages_path)
