"""Seeded corpus generators for the extraction benchmark.

Each workload is a pure function of ``(workload, seed)`` built only from the
public ``ocr_spark.fixtures`` helpers. A corpus directory holds the input
tables ``extract()`` reads (``documents``, ``media``, optionally ``pdfs``)
plus ``expected.parquet``, the span sequence
``(doc_id, ord, kind, text, media_ref)`` the job must commit. The truth of
both workloads is known by construction.

* ``interleaved3``: the fixture's three-kind mix at bench3 proportions
  (per doc 1-12 spans; media p=0.25, pdf p=0.25, text otherwise; five docs
  per page, one pdf per two pages). Pages paste unscaled glyph crops, so
  every crop repeats across pages and the kernel caches run warm.
* ``html_long``: text-only docs of 1-3 long HTML pages each, sized like
  real web pages (~26 KB): a head with inline CSS and JS, nested
  header/nav/aside/footer/form chrome, and an article of 8-24 sections with
  paragraphs, tables, link lists, link-only and short blocks, comments and
  inline scripts. The expected text is the article's headings, paragraphs
  and table cells in order, which is what the stripper keeps.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.fixtures import (
    FIXTURE_VERSION,
    WORDLIST,
    encode_gray,
    load_glyphs,
    make_html,
    render_page,
    synthesize_pdfs,
)

WORKLOADS = ("interleaved3", "html_long")

# bump when a generator's output changes for an unchanged seed
GENERATOR_VERSION = 1

# corpus sizes: one extract() pass of either workload takes a few seconds on
# local[4], so a run fits warm-up plus several timed passes
SIZES = {
    "interleaved3": dict(n_docs=400, n_pages=80),
    "html_long": dict(n_docs=240),
}
HTML_SECTIONS = (8, 12, 16, 20, 24)  # sections per html_long page

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def _sentence(rng, lo: int, hi: int) -> str:
    return " ".join(str(w) for w in rng.choice(WORDLIST, size=int(rng.integers(lo, hi))))


class _DocTable:
    """Accumulates documents and their expected span sequence."""

    def __init__(self):
        self.doc_ids, self.spans = [], []
        self.exp = {k: [] for k in ("doc_id", "ord", "kind", "text", "media_ref")}

    def add_doc(self, doc_id: str, spans: list[tuple[str, str | None, str | None, str]]):
        """``spans``: (kind, payload_text, media_ref, expected_text) in order."""
        rows, offset = [], 0
        for ord_, (kind, payload, ref, expected) in enumerate(spans):
            rows.append({"kind": kind, "text": payload, "media_ref": ref, "offset": offset})
            offset += len(payload) if payload is not None else 64
            for k, v in zip(self.exp, (doc_id, ord_, kind, expected, ref)):
                self.exp[k].append(v)
        self.doc_ids.append(doc_id)
        self.spans.append(rows)

    def tables(self):
        documents = pa.table(
            {"doc_id": self.doc_ids, "spans": pa.array(self.spans, type=pa.list_(SPAN_TYPE))}
        )
        expected = pa.table(
            {
                "doc_id": self.exp["doc_id"],
                "ord": pa.array(self.exp["ord"], pa.int32()),
                "kind": self.exp["kind"],
                "text": self.exp["text"],
                "media_ref": self.exp["media_ref"],
            }
        )
        return documents, expected


def _media_table(refs, pages) -> pa.Table:
    return pa.table(
        {
            "media_ref": pa.array(refs, pa.string()),
            "width": pa.array([p.shape[1] for p in pages], pa.int32()),
            "height": pa.array([p.shape[0] for p in pages], pa.int32()),
            "png": pa.array([encode_gray(p) for p in pages], pa.binary()),
        }
    )


def _pdf_pool(n_pdfs: int, seed: int):
    """(pdfs table, {ref: expected text}): page texts joined in page order,
    as extract() concatenates them."""
    pdfs, exp = synthesize_pdfs(n_pdfs, seed=seed)
    per_ref: dict[str, list[tuple[int, str]]] = {}
    for ref, pi, txt in zip(*(exp.column(c).to_pylist() for c in ("media_ref", "page_idx", "text"))):
        per_ref.setdefault(ref, []).append((pi, txt))
    return pdfs, {r: " ".join(t for _, t in sorted(v)) for r, v in per_ref.items()}


def gen_interleaved3(seed: int) -> tuple:
    n_docs, n_pages = SIZES["interleaved3"]["n_docs"], SIZES["interleaved3"]["n_pages"]
    rng = np.random.default_rng(seed)
    glyphs = load_glyphs()
    refs, pages, truths = [], [], []
    for p in range(n_pages):
        words = [str(w) for w in rng.choice(WORDLIST, size=int(rng.integers(1, 5)))]
        refs.append(f"pg-{p:06d}")
        pages.append(render_page(words, glyphs))
        truths.append(" ".join(words))
    pdfs, pdf_truth = _pdf_pool(max(8, n_pages // 2), seed)
    pdf_refs = sorted(pdf_truth)

    b = _DocTable()
    for d in range(n_docs):
        spans = []
        for _ in range(int(rng.integers(1, 13))):
            r = rng.random()
            if r < 0.25:
                i = int(rng.integers(0, n_pages))
                spans.append(("media", None, refs[i], truths[i]))
            elif r < 0.5:
                ref = pdf_refs[int(rng.integers(0, len(pdf_refs)))]
                spans.append(("pdf", None, ref, pdf_truth[ref]))
            else:
                sentence = _sentence(rng, 3, 9)
                spans.append(("text", make_html(rng, sentence), None, sentence))
        b.add_doc(f"doc-{d:08d}", spans)
    documents, expected = b.tables()
    return documents, _media_table(refs, pages), pdfs, expected


_WORDS = [str(w) for w in WORDLIST]


def _words(rnd: random.Random, lo: int, hi: int) -> list[str]:
    """``lo`` to ``hi - 1`` words."""
    return rnd.choices(_WORDS, k=rnd.randrange(lo, hi))


def _text(rnd: random.Random, lo: int, hi: int) -> str:
    return " ".join(_words(rnd, lo, hi))


def _links(rnd: random.Random, lo: int, hi: int) -> str:
    return "".join(f'<li><a href="/{w.lower()}">{w}</a></li>' for w in _words(rnd, lo, hi))


def _chrome(rnd: random.Random) -> tuple[str, str, str]:
    """Header, aside and footer: site chrome the stripper drops whole,
    with nested nav and aside containers and a form."""
    return (
        f'<header><div class="logo">{_text(rnd, 1, 3)}</div>'
        f'<nav><ul>{_links(rnd, 5, 12)}</ul><nav class="sub"><ul>{_links(rnd, 3, 8)}</ul></nav></nav>'
        "</header>",
        f"<aside><h3>{_text(rnd, 3, 6)}</h3><p>{_text(rnd, 8, 20)}</p>"
        f'<aside class="ad"><p>{_text(rnd, 5, 12)}</p></aside>'
        f"<nav><ul>{_links(rnd, 4, 10)}</ul></nav></aside>",
        f"<footer><div>{_text(rnd, 4, 10)}</div><nav><ul>{_links(rnd, 4, 10)}</ul></nav>"
        f'<form action="/s"><label>{_text(rnd, 2, 5)}</label><input type="text"></form>'
        "</footer>",
    )


def _paragraph(rnd: random.Random) -> tuple[str, str]:
    """(html, text) of a content block the stripper keeps: 6-24 words, one
    inside a link and one in bold, sometimes an escaped ampersand."""
    words = _words(rnd, 6, 25)
    marked = list(words)
    i, j = rnd.sample(range(len(words)), 2)
    marked[i] = f'<a href="/w/{i}">{words[i]}</a>'
    marked[j] = f"<b>{words[j]}</b>"
    if rnd.random() < 0.3:
        k = rnd.randrange(1, len(words))
        words.insert(k, "&")
        marked.insert(k, "&amp;")
    return f'<p class="c">{" ".join(marked)}</p>', " ".join(words)


def _section(rnd: random.Random) -> tuple[str, list[str]]:
    """(html, kept block texts) of one article section: heading, paragraphs,
    a table, and the clutter between them that the stripper drops (a link
    list, a link-only block, a short block, a comment, an inline script)."""
    heading = _text(rnd, 3, 7)
    html, kept = [f"<section><h2>{heading}</h2>"], [heading]
    for _ in range(rnd.randrange(2, 7)):
        h, t = _paragraph(rnd)
        html.append(h)
        kept.append(t)
    cells = [_text(rnd, 3, 6) for _ in range(rnd.randrange(2, 7))]
    html.append(
        f"<table><tr><th>{rnd.choice(_WORDS)}</th></tr>"
        + "".join(f"<tr><td>{c}</td><td>{rnd.randrange(999)}</td></tr>" for c in cells)
        + "</table>"
    )
    kept += cells
    related = " ".join(f'<a href="/r/{w.lower()}">{w} {w}</a>' for w in _words(rnd, 2, 5))
    html.append(
        f"<ul>{_links(rnd, 3, 9)}</ul>"
        f'<div class="related">{related}</div>'
        f'<div class="share">Share <a href="/s">{rnd.choice(_WORDS)}</a></div>'
        f"<!-- {_text(rnd, 3, 8)} -->"
        f'<script>track({{page: "{_text(rnd, 3, 6)}"}});</script>'
        "</section>"
    )
    return "".join(html), kept


def long_page(rnd: random.Random, n_sections: int) -> tuple[str, str]:
    """(html, expected stripped text) of a long web page: a head with inline
    CSS and JS, site chrome around an article of ``n_sections`` sections."""
    css = "".join(f".{w.lower()}-{i}{{margin:{i}px;color:#{i:03x}}}"
                  for i, w in enumerate(_words(rnd, 40, 120)))
    js = "".join(f'var v{i}="{w}";' for i, w in enumerate(_words(rnd, 30, 100)))
    header, aside, footer = _chrome(rnd)
    title = _text(rnd, 3, 8)
    sections = [_section(rnd) for _ in range(n_sections)]
    html = (
        f'<!DOCTYPE html><html><head><meta charset="utf-8"><title>{rnd.choice(_WORDS)}</title>'
        f'<style>{css}</style><script>{js}</script></head><body><div class="page">{header}'
        f'<div class="wrap">{aside}<main><article><h1>{title}</h1>'
        + "".join(h for h, _ in sections)
        + f"</article></main></div>{footer}</div></body></html>"
    )
    return html, " ".join([title] + [t for _, kept in sections for t in kept])


def gen_html_long(seed: int) -> tuple:
    n_docs = SIZES["html_long"]["n_docs"]
    # the stdlib generator: html_long draws one small number at a time, where
    # numpy's per-call overhead would dominate generation
    rnd = random.Random(seed)
    n_spans = [1 + d % 3 for d in range(n_docs)]
    rnd.shuffle(n_spans)
    # every section count equally often, so each seed carries nearly the same work
    n_sections = [HTML_SECTIONS[i % len(HTML_SECTIONS)] for i in range(sum(n_spans))]
    rnd.shuffle(n_sections)
    b = _DocTable()
    for d in range(n_docs):
        spans = []
        for _ in range(n_spans[d]):
            html, text = long_page(rnd, n_sections.pop())
            spans.append(("text", html, None, text))
        b.add_doc(f"doc-{d:08d}", spans)
    documents, expected = b.tables()
    return documents, _media_table([], []), None, expected


GENERATORS = {"interleaved3": gen_interleaved3, "html_long": gen_html_long}


def marker_text(workload: str, seed: int) -> str:
    return f"{workload} seed={seed} fixtures=v{FIXTURE_VERSION} generator=v{GENERATOR_VERSION}\n"


def write_corpus(out_dir: str, workload: str, seed: int) -> None:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    documents, media, pdfs, expected = GENERATORS[workload](seed)
    # small row groups keep the scan splittable, as in the packaged fixtures
    pq.write_table(documents, f"{tmp}/documents.parquet", row_group_size=1024)
    pq.write_table(media, f"{tmp}/media.parquet", row_group_size=512)
    if pdfs is not None:
        pq.write_table(pdfs, f"{tmp}/pdfs.parquet", row_group_size=512)
    pq.write_table(expected, f"{tmp}/expected.parquet")
    with open(f"{tmp}/_DONE", "w") as f:
        f.write(marker_text(workload, seed))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


def ensure_corpus(root: str, workload: str, seed: int) -> str:
    """Directory of the corpus for ``(workload, seed)``, generated once and
    reused while its marker matches the fixture and generator versions."""
    out_dir = os.path.join(root, f"{workload}-seed{seed}")
    marker = os.path.join(out_dir, "_DONE")
    if not (os.path.exists(marker) and open(marker).read() == marker_text(workload, seed)):
        write_corpus(out_dir, workload, seed)
    return out_dir


def expected_digest(expected: pa.Table) -> str:
    """sha256 over the expected span sequence, for pinning a seed's truth."""
    h = hashlib.sha256()
    for row in zip(*(expected.column(c).to_pylist() for c in ("doc_id", "ord", "kind", "text", "media_ref"))):
        h.update(repr(row).encode())
    return h.hexdigest()

