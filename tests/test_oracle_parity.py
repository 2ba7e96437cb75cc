"""Layer-2 oracle parity: every SQL-oracle query hash-matches DuckDB locally.

This mirrors the driver's CORRECTNESS harness (SURVEY.md §5) at sf0.001 so
regressions are caught per-commit, not per-round.
"""

from __future__ import annotations

import pandas as pd
import pytest

from recommendersystems_bigdata_spark import registry
from recommendersystems_bigdata_spark.oracle import check_query, compare_frames

registry.load_all()
ORACLE_KEYS = sorted(registry.ORACLES)
ROWS_ONLY_KEYS = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(spark, sf_dir, key):
    res = check_query(spark, key, sf_dir)
    assert res.ok, res.message()


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(spark, sf_dir, key):
    """Rows-only keys must produce actual rows — `count() >= 0` is vacuous
    and let 3 zero-emitting streaming queries pass for two rounds. Every
    rows-only operator has non-empty output on the sf0.001 corpus."""
    df = registry.QUERIES[key](spark, sf_dir)
    assert df.count() > 0, f"{key} produced 0 rows"
    assert len(df.schema.fields) > 0


def test_compare_empty_vs_empty_is_a_match():
    """Two 0-row results with matching schemas agree, whatever the empty
    frames' dtypes or index types (Spark and DuckDB build them differently)."""
    spark_pdf = pd.DataFrame({"k": pd.Series([], dtype="int64"), "v": pd.Series([], dtype="float64")})
    oracle_pdf = pd.DataFrame({"k": pd.Series([], dtype="int32"), "v": pd.Series([], dtype="float32")})
    oracle_pdf.index = pd.Index([], dtype="object")
    res = compare_frames("empty", spark_pdf, oracle_pdf)
    assert res.ok, res.message()
    assert not res.float_noise_only


def test_compare_empty_vs_one_row_is_not_float_noise():
    spark_pdf = pd.DataFrame({"k": pd.Series([], dtype="int64")})
    oracle_pdf = pd.DataFrame({"k": pd.Series([1], dtype="int64")})
    res = compare_frames("empty-vs-one", spark_pdf, oracle_pdf)
    assert not res.ok
    assert not res.rowcount_match
    assert not res.float_noise_only
    assert "float-noise-only" not in res.message()
