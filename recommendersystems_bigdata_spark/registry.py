"""Central query registry — the bridge to the driver contract.

Every operator module registers its queries with the :func:`query`
decorator; ``__spark_entry__.queries()`` / ``oracle_sql()`` read the two
dicts assembled here. Keys are the stable SURVEY.md §2 identifiers
(``q_agg_pricing_summary``, ``q_join_asof``, ...).

A query registered *without* oracle SQL gets the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible operators:
LSH, ALS, streaming).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Modules whose import populates the registry, one per line. Import order
# is registration order, i.e. the order of ``QUERIES``/``ORACLES`` and of
# ``__spark_entry__.queries()``; no key's behaviour depends on it. A module
# that defines ``@query`` functions but is missing here registers nothing
# (tests/test_registry.py checks the tuple against the package).
_PKG = "recommendersystems_bigdata_spark"

_QUERY_MODULES = (
    f"{_PKG}.operators.windows",
    f"{_PKG}.operators.sorts",
    f"{_PKG}.operators.setops",
    f"{_PKG}.functions.scalars",
    f"{_PKG}.functions.udfs",
    f"{_PKG}.ml.dedup",
    f"{_PKG}.ml.similarity",
    f"{_PKG}.ml.text",
    f"{_PKG}.ml.multimodal",
    f"{_PKG}.ml.pipeline",
    f"{_PKG}.ml.recommender",
    f"{_PKG}.operators.timeops",
    f"{_PKG}.streaming.stream_queries",
    f"{_PKG}.sources.formats",
    f"{_PKG}.operators.scans",
    f"{_PKG}.operators.filters",
    f"{_PKG}.operators.joins",
    f"{_PKG}.operators.aggregates",
    f"{_PKG}.ml.curation",
    f"{_PKG}.ml.graph",
    f"{_PKG}.sources.ingest",
    f"{_PKG}.ml.privacy",
    f"{_PKG}.operators.sampling",
    f"{_PKG}.ml.matching",
    f"{_PKG}.operators.tpch_extra",
    f"{_PKG}.operators.timeseries",
    f"{_PKG}.operators.tpch_adapt",
    f"{_PKG}.operators.incremental",
    f"{_PKG}.operators.attribution",
    f"{_PKG}.operators.quality",
    f"{_PKG}.operators.analytics2",
    f"{_PKG}.streaming.stream_extra",
    f"{_PKG}.sources.pyds",
    f"{_PKG}.operators.sequences",
    f"{_PKG}.ml.features",
    f"{_PKG}.streaming.stream_state",
    f"{_PKG}.ml.search",
    f"{_PKG}.operators.rankstats",
    f"{_PKG}.operators.recursive",
    f"{_PKG}.operators.tsdiag",
    f"{_PKG}.operators.lifecycle",
    f"{_PKG}.ml.receval",
    f"{_PKG}.operators.integrity",
    f"{_PKG}.operators.inventory",
    f"{_PKG}.operators.spatial",
    f"{_PKG}.operators.calendar",
    f"{_PKG}.operators.sketchops",
    f"{_PKG}.operators.pricing",
    f"{_PKG}.operators.fulfillment",
    f"{_PKG}.operators.sqlsurface",
    f"{_PKG}.operators.procurement",
    f"{_PKG}.operators.forecast",
    f"{_PKG}.operators.bagops",
    f"{_PKG}.ml.lexstats",
    f"{_PKG}.operators.robust",
    f"{_PKG}.streaming.stream_outer",
    f"{_PKG}.operators.winsurface",
    f"{_PKG}.operators.migration",
    f"{_PKG}.operators.contingency",
    f"{_PKG}.operators.sampling2",
    f"{_PKG}.operators.apportion",
    f"{_PKG}.operators.bridge",
    f"{_PKG}.operators.backlog",
    f"{_PKG}.operators.inequality",
    f"{_PKG}.operators.tradeflow",
    f"{_PKG}.operators.cadence",
    f"{_PKG}.operators.standardize",
    f"{_PKG}.operators.priority_sla",
    f"{_PKG}.operators.rankedreports",
    f"{_PKG}.operators.regression",
    f"{_PKG}.operators.eventstudy",
    f"{_PKG}.operators.survival",
    f"{_PKG}.operators.hotspot",
    f"{_PKG}.operators.periodcmp",
    f"{_PKG}.operators.spc",
    f"{_PKG}.operators.benford",
    f"{_PKG}.operators.abcxyz",
    f"{_PKG}.ml.ctxbudget",
    f"{_PKG}.operators.botscreen",
    f"{_PKG}.ml.vecaudit",
    f"{_PKG}.operators.anova",
    f"{_PKG}.operators.simpson",
    f"{_PKG}.operators.revretention",
    f"{_PKG}.operators.basketshape",
    f"{_PKG}.operators.skyline",
    f"{_PKG}.operators.trend",
    f"{_PKG}.operators.peerbench",
    f"{_PKG}.operators.sharetree",
    f"{_PKG}.operators.fingerprint",
    f"{_PKG}.operators.dependence",
    f"{_PKG}.operators.calibration",
    f"{_PKG}.operators.pooling",
    f"{_PKG}.operators.leadlag",
    f"{_PKG}.operators.shuffleplan",
    f"{_PKG}.ml.repetition",
    f"{_PKG}.operators.seqab",
    f"{_PKG}.operators.newsvendor",
)

_loaded = False


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; optionally attach its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module once, populating QUERIES/ORACLES."""
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True
