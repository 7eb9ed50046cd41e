"""One-span view of the RE2 trivial-grammar batch path.

``trivial_extract`` runs ``trivialbatch.vec_trivial`` (the grammar and
its equivalence argument live in that module's docstring) over a
one-element array.  No package module calls it: the Spark operators
classify whole batches, and ``extract_html`` is the residue path.  It
stays because perfbench (replay.py and the html-pages reach count in
workloads.py) times and counts it as its own layer.
"""

from __future__ import annotations

from .trivialbatch import vec_trivial


def trivial_extract(html_text: str) -> list | None:
    """(kind, text, media_ref) spans for trivial-grammar input, else
    None."""
    import pyarrow as pa

    accepted, norm_kept, _ = vec_trivial(pa.array([html_text], pa.string()))
    if not accepted[0]:
        return None
    return [("text", t, None) for t in norm_kept.to_pylist()]
