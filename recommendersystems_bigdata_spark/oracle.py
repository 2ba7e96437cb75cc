"""Local mirror of the driver's DuckDB oracle harness (SURVEY.md §5 Layer 2).

The driver runs each registered query on Spark AND its oracle SQL on DuckDB
over the same parquet files, then compares row-count + schema +
order-insensitive value-hash. This module reproduces that check locally so
every commit can be gated on parity at sf0.001/sf0.01 without the driver.

Normalization rules (shared by both sides before hashing):
- columns sorted by name; rows sorted by the stringified tuple of all cells
- NULL/NaN → the literal token "NULL"
- floats → ``repr`` (17-digit round-trip) so any real divergence is caught
  exactly — queries are expected to round on both sides already
- timestamps → ISO-8601 at microsecond precision (DuckDB ns values must be
  truncated to µs *in the oracle SQL itself*, mirroring Spark's read path)
- arrays → recursively normalized tuples
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

from recommendersystems_bigdata_spark.catalog import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with every corpus table registered as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return "NULL"
        return ts.isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _canonical_type(dtype, sample) -> str:
    kind = getattr(dtype, "kind", "O")
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "timestamp"
    if kind == "O":
        for v in sample:
            if v is None:
                continue
            if isinstance(v, (list, tuple, np.ndarray)):
                return "array"
            if isinstance(v, (pd.Timestamp,)):
                return "timestamp"
            if isinstance(v, (int, np.integer)):
                return "int"
            if isinstance(v, (float, np.floating)):
                return "float"
            return "str"
        return "str"
    return str(dtype)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted-columns, normalized-cells, sorted-rows string frame."""
    out = pd.DataFrame()
    for c in sorted(df.columns):
        out[c] = df[c].map(_norm_cell)
    if len(out.columns) and len(out):
        out = out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


@dataclass
class CompareResult:
    key: str
    rows_spark: int
    rows_oracle: int
    schema_spark: dict
    schema_oracle: dict
    rowcount_match: bool = False
    schema_match: bool = False
    value_match: bool = False
    diff_sample: list = field(default_factory=list)
    float_noise_only: bool = False

    @property
    def ok(self) -> bool:
        return self.rowcount_match and self.schema_match and self.value_match

    def message(self) -> str:
        if self.ok:
            return f"{self.key}: OK ({self.rows_spark} rows)"
        parts = [f"{self.key}: MISMATCH"]
        if not self.rowcount_match:
            parts.append(f"rows spark={self.rows_spark} oracle={self.rows_oracle}")
        if not self.schema_match:
            parts.append(f"schema spark={self.schema_spark} oracle={self.schema_oracle}")
        if not self.value_match:
            tag = " (float-noise-only)" if self.float_noise_only else ""
            parts.append(f"values differ{tag}; sample={self.diff_sample[:3]}")
        return " | ".join(parts)


def compare_frames(key: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    schema_s = {c: _canonical_type(spark_pdf[c].dtype, spark_pdf[c].head(20)) for c in sorted(spark_pdf.columns)}
    schema_o = {c: _canonical_type(oracle_pdf[c].dtype, oracle_pdf[c].head(20)) for c in sorted(oracle_pdf.columns)}
    res = CompareResult(
        key=key,
        rows_spark=len(spark_pdf),
        rows_oracle=len(oracle_pdf),
        schema_spark=schema_s,
        schema_oracle=schema_o,
    )
    res.rowcount_match = len(spark_pdf) == len(oracle_pdf)
    res.schema_match = schema_s == schema_o
    if not (res.rowcount_match and res.schema_match):
        return res

    if len(spark_pdf) == 0:
        # Both empty with matching schemas: nothing to differ. (``equals``
        # would compare the empty frames' dtypes and index types instead.)
        res.value_match = True
        return res
    cs, co = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    eq = cs.equals(co)
    res.value_match = eq
    if not eq:
        mask = (cs != co).any(axis=1)
        bad = mask[mask].index[:5]
        res.diff_sample = [
            {c: (cs.loc[i, c], co.loc[i, c]) for c in cs.columns if cs.loc[i, c] != co.loc[i, c]}
            for i in bad
        ]
        # classify: is every diff a float within 1e-6 relative? An empty
        # sample shows no diff at all, so it is never float noise.
        noise = bool(res.diff_sample)
        for d in res.diff_sample:
            for a, b in d.values():
                try:
                    fa, fb = float(a), float(b)
                    if not math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-9):
                        noise = False
                except ValueError:
                    noise = False
        res.float_noise_only = noise
    return res


def check_query(spark, key: str, sf_dir: str) -> CompareResult:
    """Run one registered query against its oracle and compare."""
    from recommendersystems_bigdata_spark import registry

    registry.load_all()
    fn = registry.QUERIES[key]
    sql = registry.ORACLES[key]
    spark_pdf = fn(spark, sf_dir).toPandas()
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.execute(sql).df()
    finally:
        con.close()
    return compare_frames(key, spark_pdf, oracle_pdf)
