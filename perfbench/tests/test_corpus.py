"""Generator determinism and shape."""

import random

import corpus


def test_documents_deterministic_per_seed():
    a = corpus.documents(7, 300, near_dup_share=0.05, exact_dup_share=0.01)
    b = corpus.documents(7, 300, near_dup_share=0.05, exact_dup_share=0.01)
    c = corpus.documents(8, 300, near_dup_share=0.05, exact_dup_share=0.01)
    assert a == b
    assert corpus.corpus_digest(a) == corpus.corpus_digest(b)
    assert corpus.corpus_digest(a) != corpus.corpus_digest(c)


def test_documents_shape():
    rows = corpus.documents(3, 1000, near_dup_share=0.05,
                            exact_dup_share=0.01)
    assert len(rows) == 1000 + 50 + 10
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for r in rows[:1000]:
        n = len(r["text"].split())
        assert 10 <= n <= 100
        assert set(r["text"].split()) <= set(corpus.SF_VOCAB)
        assert r["n_chars"] == len(r["text"])
    texts = [r["text"] for r in rows]
    assert len(set(texts)) < len(texts)   # exact duplicates present


def test_html_corpus_deterministic_and_shaped():
    a = corpus.html_corpus(5, 40)
    assert a == corpus.html_corpus(5, 40)
    assert corpus.corpus_digest(a) != corpus.corpus_digest(
        corpus.html_corpus(6, 40))
    html = "".join(s["text"] for d in a for s in d["spans"]
                   if s["kind"] == "text")
    for needle in ("<!DOCTYPE html>", "<meta ", "<title>", "<style>",
                   "<script>", "<nav>", "<article>", "<footer>", "&amp;",
                   "&#", "<!--", "<table>", "<ul>", "<li>", "<a href="):
        assert needle in html, needle
    for d in a:
        kinds = [s["kind"] for s in d["spans"]]
        assert kinds[0] == "text" and "media" in kinds
        assert [s["offset"] for s in d["spans"]] == list(range(len(kinds)))


def test_html_corpus_body_range():
    # the article span holds the body plus a short heading and wrapper
    for lo, hi in ((1000, 2000), (32000, 64000)):
        for d in corpus.html_corpus(1, 20, body=(lo, hi)):
            article = next(s["text"] for s in d["spans"]
                           if s["text"] and "<article>" in s["text"])
            assert lo <= len(article) <= hi + 2000


def test_skewed_corpus_tail_and_planted():
    docs, planted = corpus.skewed_corpus(2)
    assert (docs, planted) == corpus.skewed_corpus(2)
    sizes = {d["doc_id"]: sum(len(s["text"] or "") for s in d["spans"])
             for d in docs}
    mega = [k for k, v in sizes.items() if v > corpus.SKEW_MEGA_DOC_BYTES]
    assert len(mega) == corpus.SKEW_MEGA_PAGES
    assert len(planted) == corpus.SKEW_PLANTED
    for doc_id, n in planted.items():
        assert n > corpus.SKEW_MAX_SPAN_BYTES
        assert sizes[doc_id] <= corpus.SKEW_MEGA_DOC_BYTES
    # no span outside the planted docs and mega docs crosses the limit
    for d in docs:
        if d["doc_id"] in planted or d["doc_id"] in mega:
            continue
        assert max(len(s["text"] or "") for s in d["spans"]) \
            <= corpus.SKEW_MAX_SPAN_BYTES


def test_stratified_keeps_distribution_and_total():
    inv = corpus.lognormal_inv(1000, 1.0)
    totals = [sum(corpus.stratified(random.Random(s), 200, inv))
              for s in range(5)]
    assert max(totals) / min(totals) < 1.1
    xs = sorted(corpus.stratified(random.Random(0), 200, inv))
    assert 800 < xs[100] < 1250   # median near 1000
    assert xs[-1] > 8 * xs[100]    # heavy upper tail
