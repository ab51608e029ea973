#!/usr/bin/env python3
"""Regenerate ``perfbench/fingerprints.json``: the DuckDB oracle's result
fingerprint for every query ``llmdata`` runs, over the data in
``perfbench/data/sf0.01``.

    python3 perfbench/oracle.py

Queries that have no oracle SQL (``spec.oracle is None``) are pinned by the
row count the engine returns, which needs a Spark session; the rest need
only DuckDB."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from catalog import DATA_DIR, FINGERPRINTS, OPS, TABLES, fingerprint  # noqa: E402


def main() -> int:
    import duckdb

    os.environ["TZ"] = "UTC"
    from logistics_data_pipeline_project_spark.queries import REGISTRY

    names = sorted(OPS)
    out: dict[str, dict] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(DATA_DIR, t + '.parquet')}')")
    no_oracle = []
    for name in names:
        sql = REGISTRY[name].oracle
        if sql is None:
            no_oracle.append(name)
            continue
        cur = con.execute(sql)
        out[name] = fingerprint([d[0] for d in cur.description], cur.fetchall())
    con.close()
    if no_oracle:
        from logistics_data_pipeline_project_spark.session import get_spark

        spark = get_spark(app_name="perfbench-oracle")
        for name in no_oracle:
            out[name] = {"rows": REGISTRY[name].fn(spark, DATA_DIR).count()}
        spark.stop()
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} fingerprints ({len(no_oracle)} pinned by row count)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
