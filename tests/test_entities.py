"""``entities.match_named`` probes only the prefixes of the
``[A-Za-z0-9]{1,31};?`` run at ``start``; pinned against the unbounded
longest-first loop over every length up to ``MAX_ENTITY_LEN``, at every
``&`` of the conformance payloads and of a seeded charref stress
string.  No Spark."""

from __future__ import annotations

import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel.entities import (  # noqa: E402
    ENTITIES,
    MAX_ENTITY_LEN,
    match_named,
)
from tests.test_trivialspans import fixture_payloads  # noqa: E402


def _unbounded(buf: str, start: int):
    window = buf[start:start + MAX_ENTITY_LEN]
    for ln in range(len(window), 0, -1):
        rep = ENTITIES.get(window[:ln])
        if rep is not None:
            return rep, ln
    return None


def _check_every_amp(buf: str) -> int:
    n = 0
    pos = buf.find("&")
    while pos >= 0:
        assert match_named(buf, pos + 1) == _unbounded(buf, pos + 1), \
            buf[pos:pos + MAX_ENTITY_LEN + 2]
        n += 1
        pos = buf.find("&", pos + 1)
    return n


def test_match_named_on_conformance_payloads():
    assert _check_every_amp("\n".join(fixture_payloads())) >= 100


def test_match_named_on_random_charrefs():
    rng = random.Random(20261019)
    names = sorted(ENTITIES)
    alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    parts = []
    for _ in range(20000):
        r = rng.random()
        if r < 0.4:
            name = rng.choice(names)
            # cut, extend or keep a real name, with or without its ';'
            cut = rng.choice([len(name), len(name) - 1, rng.randint(1, 40)])
            parts.append("&" + name[:cut] + "".join(
                rng.choice(alnum + ";") for _ in range(rng.randint(0, 3))))
        elif r < 0.7:
            parts.append("&" + "".join(rng.choice(alnum + ";&# <")
                                       for _ in range(rng.randint(0, 40))))
        else:
            parts.append("".join(rng.choice(alnum + " ;Kİ")
                                 for _ in range(rng.randint(0, 6))))
    buf = "".join(parts)
    assert _check_every_amp(buf) > 10000
    # the one 32-char name, and runs of 31, 32 and 33 alnums at the end
    for tail in ("CounterClockwiseContourIntegral;", "a" * 31, "a" * 32,
                 "a" * 33, "notin" + "x" * 30 + ";", "amp", ""):
        _check_every_amp("x&" + tail)
