"""Pre-verify the driver's CORRECTNESS sample.

The round driver imports ``__spark_entry__`` with its own DEFAULT
SparkSession and samples the FIRST 50 registered keys (registration order
is ``registry._QUERY_MODULES``). This script reproduces that exact
harness: default session, first-N keys in registration order,
sf0.01, DuckDB oracle compare where an oracle exists, rows-only otherwise —
and additionally records a sha256 of the canonicalized Spark result for
every key so two runs in SEPARATE JVM processes can be diffed for
cross-session determinism (ALS factor init, KMeans seeding, Arrow batch
boundaries are the suspects).

Usage (from a directory outside the repo, so Python workers cannot pick
up a stray cwd import):
    python <repo>/scripts/presample_verify.py OUT.json [SF_DIR] [N_KEYS]

Exit code 0 iff every oracle compare passes (rows-only keys just need to run).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/presample.json"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    n_keys = int(sys.argv[3]) if len(sys.argv) > 3 else 50

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    import __spark_entry__ as e
    from recommendersystems_bigdata_spark.oracle import (
        canonicalize,
        compare_frames,
        duckdb_connection,
    )

    qs, osql = e.queries(), e.oracle_sql()
    sample = list(qs)[:n_keys]
    con = duckdb_connection(sf_dir)
    results: dict[str, dict] = {}
    fails = 0
    for k in sample:
        rec: dict = {}
        try:
            spdf = qs[k](spark, sf_dir).toPandas()
            canon = canonicalize(spdf)
            rec["rows"] = len(spdf)
            rec["hash"] = hashlib.sha256(
                canon.to_csv(index=False).encode()
            ).hexdigest()
            if k in osql:
                r = compare_frames(k, spdf, con.execute(osql[k]).df())
                rec["oracle_ok"] = r.ok
                if not r.ok:
                    rec["err"] = r.message()
                    fails += 1
            else:
                rec["oracle_ok"] = None  # rows-only by design
        except Exception as ex:  # noqa: BLE001 — record, don't abort the sweep
            rec["err"] = f"{type(ex).__name__}: {ex}"[:500]
            fails += 1
        results[k] = rec
        status = "FAIL" if "err" in rec else ("rows-only" if rec.get("oracle_ok") is None else "OK")
        print(f"{k}: {status} rows={rec.get('rows')}", flush=True)
    con.close()
    spark.stop()

    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {len(sample)} keys, {fails} fails", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
