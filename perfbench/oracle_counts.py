#!/usr/bin/env python3
"""Regenerate catalog_counts.json: every catalog query's DuckDB row count
over the fixed catalog tables.

    python3 perfbench/oracle_counts.py <tablesDir> <oracle_sql.json> [spark_counts.json]

<oracle_sql.json> is written by `perfbench.CatalogSurvey` (SparkEntry's
DuckDB twins). With a spark_counts.json from the same tool, queries whose
Spark count differs from DuckDB are listed and left out of the output, so the
benchmark only runs queries that agree with their oracle on these tables.
"""
import json
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    tables, oracle_path = sys.argv[1], sys.argv[2]
    spark = json.load(open(sys.argv[3])) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    counts = {}
    for name, sql in sorted(json.load(open(oracle_path)).items()):
        try:
            n = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        except Exception as e:  # noqa: BLE001 - report and skip
            print(f"duckdb error {name}: {str(e)[:200]}", file=sys.stderr)
            continue
        if spark is not None and spark.get(name, {}).get("count") != n:
            print(f"mismatch {name}: spark {spark.get(name, {}).get('count')} duckdb {n}", file=sys.stderr)
            continue
        counts[name] = n
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_counts.json")
    with open(out, "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(counts)} counts written to {out}")


if __name__ == "__main__":
    main()
