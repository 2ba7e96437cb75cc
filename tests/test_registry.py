"""Registry contract: the SURVEY.md §2 key set and the hand-kept module tuple."""

from __future__ import annotations

from pathlib import Path

from recommendersystems_bigdata_spark import registry


def test_every_query_module_is_listed_once_and_registers():
    """A module with ``@query(`` left out of ``_QUERY_MODULES`` silently
    drops its keys; a listed module that registers nothing is dead weight."""
    registry.load_all()
    root = Path(registry.__file__).parent
    on_disk = sorted(
        ".".join((registry._PKG, *p.relative_to(root).with_suffix("").parts))
        for p in root.rglob("*.py")
        if "@query(" in p.read_text(encoding="utf-8")
    )
    assert sorted(registry._QUERY_MODULES) == on_disk
    assert {fn.__module__ for fn in registry.QUERIES.values()} == set(on_disk)


def test_survey_inventory_matches_registry():
    """SURVEY.md §2 is the binding contract: the set of `q_*` keys named in
    the first column of its inventory rows must equal the registry key set
    exactly — a key registered without an inventory row (round 7's eight
    tail additions) or an inventory row whose operator was never
    registered both fail here."""
    import os
    import re

    registry.load_all()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md"
    )
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    section2 = text.split("## §2")[1].split("## §3")[0]
    survey_keys: set[str] = set()
    for line in section2.splitlines():
        if line.startswith("|"):
            survey_keys.update(re.findall(r"`(q_\w+)`", line.split("|")[1]))
    assert survey_keys == set(registry.QUERIES), (
        f"SURVEY-only: {sorted(survey_keys - set(registry.QUERIES))}; "
        f"registry-only: {sorted(set(registry.QUERIES) - survey_keys)}"
    )
