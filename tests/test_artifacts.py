"""Artifact-integrity gate — committed verification JSON vs HEAD.

The round-9 judge found a committed presample run1 that predated a
same-round fix (two overflow errors, hashes ≠ run2) while the README
claimed the pair was bit-identical with 0 fails. Nothing in `tests/`
could catch that class of staleness; this gate makes it impossible to
land silently: the LATEST committed full-surface sweep pair
(`VERIFY_r{N}_sf0.01.json` + `_run2`) must cover exactly the HEAD
registry key set, carry zero errors, and be bit-identical — so a suite
added without a fresh sweep fails here until the sweep is regenerated.
"""

from __future__ import annotations

import json
import os
import re

from recommendersystems_bigdata_spark import registry

registry.load_all()

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str) -> dict:
    with open(os.path.join(_REPO, name), encoding="utf-8") as fh:
        return json.load(fh)


def test_latest_full_sweep_covers_registry():
    pat = re.compile(r"VERIFY_r(\d+)_sf0\.01\.json$")
    rounds = sorted(
        int(m.group(1))
        for f in os.listdir(_REPO)
        if (m := pat.match(f))
    )
    assert rounds, "no committed full-surface sweep found"
    latest = rounds[-1]
    r1 = _load(f"VERIFY_r{latest:02d}_sf0.01.json")
    r2 = _load(f"VERIFY_r{latest:02d}_sf0.01_run2.json")
    want = set(registry.QUERIES)
    assert set(r1) == want, (
        latest,
        sorted(want - set(r1))[:10],
        sorted(set(r1) - want)[:10],
    )
    assert set(r2) == want, latest
    bad = [k for k, v in r1.items() if "err" in v] + [
        k for k, v in r2.items() if "err" in v
    ]
    assert not bad, (latest, bad)
    diff = [k for k in r1 if r1[k].get("hash") != r2[k].get("hash")]
    assert not diff, (latest, diff)
