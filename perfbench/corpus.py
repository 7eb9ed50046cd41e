"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, byte for byte, on any host.  The program under test only ever
sees the generated rows, never the seed.

- :func:`documents` -- plain-text documents shaped like the sf0.1
  ``documents.parquet`` table (31-word vocabulary, 10-100 words, 20
  sources, five languages, a few exact duplicates), optionally with
  seeded near-duplicate and exact-duplicate variants for the curation
  funnel.
- :func:`html_corpus` -- interleaved documents of full HTML pages
  (doctype + head with meta/title/style/script, nav, article, footer,
  named and numeric charrefs, comments, tables, lists, inline formatting
  including mis-nested formatting, media spans between text spans).
- :func:`skewed_corpus` -- the same pages with a heavy-tailed size
  distribution, a fixed handful of MB-scale pages whose body can be
  chunk-split at block tags, and planted oversize spans.

Sizes are drawn by stratified sampling (one draw per quantile stratum,
shuffled), so the distribution keeps its shape while the total input
size barely moves from seed to seed.
"""

from __future__ import annotations

import hashlib
import json
import math
import random

# the sf0.1 documents vocabulary
SF_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
N_SOURCES = 20

PAGE_VOCAB = (
    "the of and to in is for on with as by at from that this it be are was "
    "data page market city report music river garden energy history story "
    "system network people school water light paper engine travel health "
    "science museum harbor winter summer season village library council "
    "research policy machine bridge coffee forest island theory method "
    "festival journal kitchen mountain program project student weather "
    "analysis").split()
NAMED_REFS = ("&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&copy;",
              "&mdash;", "&eacute;", "&hellip;", "&rsquo;", "&euro;")
NUMERIC_REFS = ("&#8212;", "&#x2014;", "&#169;", "&#233;", "&#x20AC;",
                "&#39;")
INLINE = ("b", "i", "em", "strong", "span", "code", "small")

# workload input sizes
SF_DOCS = 5000
CURATION_DOCS = 2000
HTML_PAGES = 480
# html-pages article body sizes, bytes.  Chosen, not measured: the
# benchmark claims no typical page size (see README.md, "Page sizes")
HTML_BODY_BYTES = (4000, 24000)
SKEW_BULK_PAGES = 200
SKEW_MEGA_PAGES = 2
SKEW_PLANTED = 4
# the extraction-job settings the skewed corpus is built around
SKEW_MAX_SPAN_BYTES = 200_000
SKEW_MEGA_DOC_BYTES = 1_000_000


def _rng(kind: str, seed: int) -> random.Random:
    return random.Random(f"{kind}:{seed}")


def _weighted(rng: random.Random, pairs) -> str:
    return rng.choices([k for k, _ in pairs], [w for _, w in pairs])[0]


def stratified(rng: random.Random, n: int, inv_cdf) -> list[float]:
    """``n`` draws from the distribution with inverse CDF ``inv_cdf``,
    one per equal-probability stratum, in seeded random order."""
    out = [inv_cdf((i + rng.random()) / n) for i in range(n)]
    rng.shuffle(out)
    return out


def lognormal_inv(median: float, sigma: float):
    """Inverse CDF of a lognormal with the given median and sigma."""
    from statistics import NormalDist

    nd = NormalDist()
    return lambda p: median * math.exp(sigma * nd.inv_cdf(
        min(max(p, 1e-9), 1 - 1e-9)))


# --------------------------------------------------------------------------
# plain-text documents


def documents(seed: int, n: int = SF_DOCS, *,
              near_dup_share: float = 0.0,
              exact_dup_share: float = 0.0) -> list[dict]:
    """sf0.1-shaped document rows ``(doc_id, text, lang, source,
    n_chars)``.  With the dup shares set, that share of sampled docs gets
    a near-duplicate variant (one word replaced or appended) or an exact
    copy, each under a fresh doc_id after the originals."""
    rng = _rng("documents", seed)
    rows = []
    for doc_id in range(n):
        n_words = rng.randint(10, 100)
        text = " ".join(rng.choice(SF_VOCAB) for _ in range(n_words))
        rows.append({"doc_id": doc_id, "text": text,
                     "lang": _weighted(rng, LANGS),
                     "source": f"src{doc_id % N_SOURCES}",
                     "n_chars": len(text)})
    # the sf table carries a handful of exact duplicate texts too
    for j in rng.sample(range(n), max(1, n // 625)):
        rows[j]["text"] = rows[(j + 1) % n]["text"]
        rows[j]["n_chars"] = len(rows[j]["text"])
    next_id = n
    for share, exact in ((near_dup_share, False), (exact_dup_share, True)):
        for j in sorted(rng.sample(range(n), int(n * share))):
            words = rows[j]["text"].split()
            if not exact:
                if rng.random() < 0.5:
                    words[rng.randrange(len(words))] = rng.choice(SF_VOCAB)
                else:
                    words.append(rng.choice(SF_VOCAB))
            text = " ".join(words)
            rows.append({"doc_id": next_id, "text": text,
                         "lang": rows[j]["lang"], "source": rows[j]["source"],
                         "n_chars": len(text)})
            next_id += 1
    return rows


# --------------------------------------------------------------------------
# HTML pages


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(PAGE_VOCAB) for _ in range(rng.randint(lo, hi)))


def _ref(rng: random.Random) -> str:
    pool = NAMED_REFS if rng.random() < 0.6 else NUMERIC_REFS
    return rng.choice(pool)


def _inline_run(rng: random.Random) -> str:
    """One run of inline content: words with charrefs, formatting,
    links, and now and then mis-nested formatting (adoption agency)."""
    r = rng.random()
    if r < 0.35:
        return f"{_words(rng, 3, 12)} {_ref(rng)} {_words(rng, 2, 8)}"
    if r < 0.6:
        t = rng.choice(INLINE)
        return f"<{t}>{_words(rng, 1, 5)}</{t}> {_words(rng, 2, 6)}"
    if r < 0.75:
        return (f'<a href="/{rng.choice(PAGE_VOCAB)}/{rng.randrange(999)}">'
                f"{_words(rng, 1, 3)}</a>")
    if r < 0.88:
        # mis-nested formatting: </b> closes over an open <i>, which the
        # tree builder's adoption agency reconstructs for the tail text
        a, b = rng.sample(("b", "i", "em", "strong"), 2)
        return (f"<{a}>{_words(rng, 1, 3)} <{b}>{_words(rng, 1, 3)}</{a}> "
                f"{_words(rng, 1, 3)}</{b}>")
    return f"{_words(rng, 2, 6)} {_ref(rng)}{_ref(rng)} {_words(rng, 1, 4)}"


def _paragraph(rng: random.Random) -> str:
    runs = " ".join(_inline_run(rng) for _ in range(rng.randint(2, 6)))
    return f"<p>{runs}</p>"


def _block(rng: random.Random, splittable: bool) -> str:
    """One body block.  ``splittable`` restricts the mix to constructs
    that extract the same whether or not the span is cut at a block
    start tag: no tables, comments, raw-text or preformatted elements."""
    r = rng.random()
    if r < 0.5:
        return _paragraph(rng)
    if r < 0.6:
        return f"<h2>{_words(rng, 2, 6)} {_ref(rng)} {_words(rng, 1, 3)}</h2>"
    if r < 0.72:
        tag = rng.choice(("ul", "ol"))
        items = "".join(f"<li>{_inline_run(rng)}</li>"
                        for _ in range(rng.randint(2, 6)))
        return f"<{tag}>{items}</{tag}>"
    if r < 0.8:
        return f"<blockquote>{_paragraph(rng)}</blockquote>"
    if splittable:
        return _paragraph(rng)
    if r < 0.9:
        head = "".join(f"<th>{_words(rng, 1, 2)}</th>" for _ in range(3))
        body = "".join(
            "<tr>" + "".join(f"<td>{_words(rng, 1, 3)} {_ref(rng)}</td>"
                             for _ in range(3)) + "</tr>"
            for _ in range(rng.randint(2, 5)))
        return (f"<table><thead><tr>{head}</tr></thead>"
                f"<tbody>{body}</tbody></table>")
    if r < 0.95:
        return (f"<!-- {_words(rng, 2, 6)} -->"
                f"<figure><img src=\"img://fig/{rng.randrange(10**6)}\" "
                f"alt=\"{_words(rng, 1, 3)}\"><figcaption>{_words(rng, 2, 6)}"
                f"</figcaption></figure>")
    return f"<pre>{_words(rng, 4, 10)} &lt;tag&gt;</pre>"


def _body(rng: random.Random, target: int, splittable: bool) -> str:
    parts: list[str] = []
    size = 0
    while size < target:
        b = _block(rng, splittable)
        parts.append(b)
        size += len(b)
    return "\n".join(parts)


def _head(rng: random.Random, lang: str) -> str:
    title = _words(rng, 2, 5)
    return (
        "<!DOCTYPE html>\n"
        f'<html lang="{lang}"><head><meta charset="utf-8">'
        '<meta name="viewport" content="width=device-width">'
        f'<meta name="description" content="{_words(rng, 4, 10)}">'
        f"<title>{title} &amp; {_words(rng, 1, 2)}</title>"
        f'<link rel="canonical" href="https://example.org/{rng.randrange(10**6)}">'
        "<style>body{margin:0} .nav > a{color:#333} p{line-height:1.4}</style>"
        "<script>var n = 3; if (n < 4 && n > 1) { document.title += '</p>'; }"
        "</script></head>\n<body><header><nav><ul>"
        + "".join(f'<li><a href="/{w}">{w}</a></li>'
                  for w in rng.sample(PAGE_VOCAB, 5))
        + "</ul></nav></header>"
    )


def _article(rng: random.Random, body: str) -> str:
    return (f"<main><article><h1>{_words(rng, 3, 7)}</h1>\n{body}\n"
            "</article></main>")


def _footer(rng: random.Random) -> str:
    links = " | ".join(f'<a href="/{w}">{w}</a>'
                       for w in rng.sample(PAGE_VOCAB, 4))
    return (f"<aside><h3>{_words(rng, 1, 3)}</h3><ul>"
            + "".join(f'<li><a href="/r/{rng.randrange(999)}">'
                      f"{_words(rng, 2, 4)}</a></li>" for _ in range(3))
            + "</ul></aside><!-- footer -->"
            f"<footer><p>&copy; 2024 {_words(rng, 2, 4)}</p>"
            f"<p>{links}</p></footer></body></html>")


def _media(ref: str) -> dict:
    return {"kind": "media", "text": None, "media_ref": ref}


def _text(html: str) -> dict:
    return {"kind": "text", "text": html, "media_ref": None}


def page_doc(rng: random.Random, doc_id: str, body_bytes: int, *,
             splittable: bool = False, max_piece: int = 0) -> dict:
    """One interleaved document holding one full page: head+nav span,
    media, article span(s) with media between them, footer span.

    ``max_piece`` caps each article span's size by cutting the body into
    several spans; ``splittable`` keeps the body chunk-split safe."""
    lang = _weighted(rng, LANGS)
    body = _body(rng, body_bytes, splittable)
    pieces = [body]
    if max_piece and len(body) > max_piece:
        blocks = body.split("\n")
        pieces, cur = [], []
        size = 0
        for b in blocks:
            if cur and size + len(b) > max_piece:
                pieces.append("\n".join(cur))
                cur, size = [], 0
            cur.append(b)
            size += len(b) + 1
        pieces.append("\n".join(cur))
    spans = [_text(_head(rng, lang)),
             _media(f"img://{doc_id}/hero.jpg")]
    for k, piece in enumerate(pieces):
        if k:
            spans.append(_media(f"img://{doc_id}/{k}.png"))
        spans.append(_text(_article(rng, piece) if k == 0 else piece))
    spans.append(_media(f"vid://{doc_id}"))
    spans.append(_text(_footer(rng)))
    for off, s in enumerate(spans):
        s["offset"] = off
    return {"doc_id": doc_id, "spans": spans}


def html_corpus(seed: int, n: int = HTML_PAGES,
                body: tuple[int, int] = HTML_BODY_BYTES) -> list[dict]:
    """Full pages with article bodies drawn uniformly from ``body``
    (bytes, low and high)."""
    rng = _rng("html-pages", seed)
    lo, hi = body
    sizes = stratified(rng, n, lambda p: lo + (hi - lo) * p)
    return [page_doc(rng, f"p{seed}-{i}", int(sz))
            for i, sz in enumerate(sizes)]


def skewed_corpus(seed: int) -> tuple[list[dict], dict[str, int]]:
    """Heavy-tailed pages for the extraction job.

    Returns ``(docs, planted)`` where ``planted`` maps each doc_id that
    carries a planted oversize span to that span's length.  Bulk pages
    draw body sizes from a lognormal (median 6 KB, sigma 1.1, capped at
    150 KB) and cut bodies into spans of at most 60 KB, so no bulk span
    exceeds ``SKEW_MAX_SPAN_BYTES``.  Mega pages carry one chunk-split
    safe body span of 1.1-1.6 MB (their doc exceeds
    ``SKEW_MEGA_DOC_BYTES``); planted docs carry one 220-320 KB span in
    a doc below ``SKEW_MEGA_DOC_BYTES``.
    """
    rng = _rng("skewed-job", seed)
    inv = lognormal_inv(6000, 1.1)
    sizes = stratified(rng, SKEW_BULK_PAGES, lambda p: min(inv(p), 150_000))
    docs = [page_doc(rng, f"s{seed}-{i}", int(sz), max_piece=60_000)
            for i, sz in enumerate(sizes)]
    for i in range(SKEW_MEGA_PAGES):
        size = int(1_100_000 + 500_000 * (i + rng.random())
                   / SKEW_MEGA_PAGES)
        docs.append(page_doc(rng, f"s{seed}-mega{i}", size,
                             splittable=True))
    planted: dict[str, int] = {}
    for i in range(SKEW_PLANTED):
        doc_id = f"s{seed}-big{i}"
        doc = page_doc(rng, doc_id, rng.randint(220_000, 320_000))
        planted[doc_id] = max(len(s["text"]) for s in doc["spans"]
                              if s["kind"] == "text")
        docs.append(doc)
    rng.shuffle(docs)
    return docs, planted


# --------------------------------------------------------------------------
# digests


def corpus_digest(rows) -> str:
    """sha256 over the canonical JSON of every row, in order."""
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, separators=(",", ":"))
                 .encode())
        h.update(b"\n")
    return h.hexdigest()[:16]

