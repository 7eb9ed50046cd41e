"""Empty import surface kept only because perfbench imports these names.

``perfbench/replay.py`` and the ``html-pages`` reach count in
``perfbench/workloads.py`` import ``try_fast_parse`` and
``fast_extract``.  No package module calls either: ``parse`` is
tokenizer → tree builder for every input.  Both decline every input,
as ``parse`` does, so the benchmark's fast-path layer counts 0.
"""


def try_fast_parse(html_text: str) -> None:
    return None


def fast_extract(html_text: str) -> None:
    return None
