"""Output gate: order-independent digests of extraction output and a
single-process reference for them.

The reference replays ``extract_html`` over every document with the
doc-mode row-loop rules of ``extract_spans_doc``: media spans pass
through at their position, empty text spans emit nothing, a text span
longer than ``max_span_bytes`` or a kernel exception collapses the whole
document into one quarantine row (reason in ``text``), and ``span_idx``
counts the document's output rows in order.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys

ROW_FIELDS = ("doc_id", "span_idx", "kind", "text", "media_ref", "offset")
_MASK = (1 << 64) - 1


def row_hash(row) -> int:
    h = hashlib.blake2b(digest_size=8)
    h.update(repr(tuple(row)).encode())
    return int.from_bytes(h.digest(), "little")


class Digest:
    """Multiset digest: row count plus the sum of 64-bit row hashes, so
    two outputs agree whatever order their rows arrive in."""

    def __init__(self) -> None:
        self.n = 0
        self.total = 0

    def add(self, row) -> None:
        self.n += 1
        self.total = (self.total + row_hash(row)) & _MASK

    def __eq__(self, other) -> bool:
        return (self.n, self.total) == (other.n, other.total)

    def merge(self, other: "Digest") -> None:
        self.n += other.n
        self.total = (self.total + other.total) & _MASK

    def __repr__(self) -> str:
        return f"{self.n}:{self.total:016x}"


def table_rows(table):
    """Rows of an Arrow table with the :data:`ROW_FIELDS` columns."""
    cols = [table.column(f).to_pylist() for f in ROW_FIELDS]
    return zip(*cols)


def digest_rows(rows) -> Digest:
    d = Digest()
    for r in rows:
        d.add(r)
    return d


def reference_rows(docs, *, max_span_bytes: int | None = None,
                   skip: frozenset = frozenset()):
    """Rows ``extract_spans_doc`` must produce for ``docs`` (dicts with
    ``doc_id`` and ``spans``), replayed in this process."""
    from html_qt_spark.kernel.extractor import extract_html
    from html_qt_spark.operators.extract import QUARANTINE_KIND

    # extract_html is a pure function of its input, and replicated
    # corpora repeat span texts under new doc_ids: replay each text once
    memo: dict[str, list | Exception] = {}

    def extract(html: str) -> list:
        got = memo.get(html)
        if got is None:
            try:
                got = extract_html(html)
            except Exception as exc:  # noqa: BLE001 -- re-raised below
                got = exc
            memo[html] = got
        if isinstance(got, Exception):
            raise got
        return got

    for doc in docs:
        doc_id = doc["doc_id"]
        if doc_id in skip or doc["spans"] is None:
            continue
        rows = []
        try:
            for s in doc["spans"]:
                html, off = s["text"], s["offset"]
                if s["kind"] == "media":
                    rows.append((doc_id, len(rows), "media", html,
                                 s["media_ref"], off))
                    continue
                if not html:
                    continue
                if max_span_bytes and len(html) > max_span_bytes:
                    raise ValueError(f"oversize-span:{len(html)}")
                for k, t, m in extract(html):
                    rows.append((doc_id, len(rows), k, t, m, off))
        except Exception as exc:  # noqa: BLE001 -- the operator's rule
            rows = [(doc_id, 0, QUARANTINE_KIND,
                     f"{type(exc).__name__}:{exc}"[:512], None, 0)]
        yield from rows


def _reference_digest(args) -> Digest:
    docs, max_span_bytes, skip = args
    return digest_rows(reference_rows(docs, max_span_bytes=max_span_bytes,
                                      skip=skip))


def reference_digest(docs, *, workers: int = 1,
                     max_span_bytes: int | None = None,
                     skip: frozenset = frozenset()) -> Digest:
    """Digest of :func:`reference_rows` over ``docs``.  With ``workers``
    above 1 the documents are dealt by content to that many child Python
    processes, so copies of a document meet in one process, whose replay
    runs each text once.  The children are started fresh, not forked
    (the caller may hold a JVM gateway with live threads), and waited
    for; the digest is a multiset sum, so the parts add up."""
    if workers <= 1:
        return _reference_digest((docs, max_span_bytes, skip))
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(p for p in sys.path if p))
    parts: list[list] = [[] for _ in range(workers)]
    for doc in docs:
        texts = tuple(sp["text"] for sp in doc["spans"] or ())
        parts[hash(texts) % workers].append(doc)
    procs = []
    try:
        for part in parts:
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env)
            procs.append(proc)
            pickle.dump((part, max_span_bytes, skip), proc.stdin)
            proc.stdin.close()
        total = Digest()
        for proc in procs:
            out = proc.stdout.read()
            if proc.wait() != 0:
                raise RuntimeError(f"reference worker exited {proc.returncode}")
            part = Digest()
            part.n, part.total = pickle.loads(out)
            total.merge(part)
        return total
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def compare(name: str, got: Digest, want: Digest) -> list[str]:
    if got == want:
        return []
    return [f"{name}: output digest {got!r} != reference {want!r}"]


if __name__ == "__main__":
    # reference worker: a pickled (docs, max_span_bytes, skip) on stdin,
    # the pickled (count, sum) of its digest on stdout
    d = _reference_digest(pickle.load(sys.stdin.buffer))
    pickle.dump((d.n, d.total), sys.stdout.buffer)
