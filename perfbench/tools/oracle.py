#!/usr/bin/env python3
"""Regenerates expected/sf0.1.json: the expected shape and digest of every
checked query, computed by the DuckDB oracle over the sf0.1 fixtures.

    python3 perfbench/tools/oracle.py [SF_DIR]

SF_DIR defaults to $GRAFT_BENCH_DATA, else ~/testdata/sf0.1. The oracle SQL
comes from the harness itself (sql_star templates with the governance policy
restated as a view, and SparkEntry.oracleSql for corpus ops). A query with no
oracle SQL gets no entry, and the benchmark counts it as failed until one is
added.
"""
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import build, canon, cli  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else cli.data_dir()
    cp = build.ensure_built(cli.BUILD_LIMIT_S)
    with tempfile.TemporaryDirectory(dir=build.HERE) as tmp:
        dump = os.path.join(tmp, "oracles.json")
        subprocess.run(build.java_command(cp, "1g", ["--dump-oracles", dump], tmp),
                       check=True, timeout=cli.RUN_LIMIT_S)
        with open(dump) as f:
            oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf, t)}.parquet')")
    for name, sql in oracles["views"].items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    out = {"fixtures": {f"{t}.parquet": os.path.getsize(os.path.join(sf, f"{t}.parquet"))
                        for t in TABLES}}
    for workload in ("sql_star", "corpus_ops"):
        out[workload] = {}
        for key, sql in sorted(oracles[workload].items()):
            if not sql:
                print(f"no oracle for {workload}/{key}", file=sys.stderr)
                continue
            rel = con.sql(sql)
            out[workload][key] = canon.shape(rel.columns, rel.fetchall())
            print(f"{workload}/{key}: {out[workload][key]['rows']} rows", file=sys.stderr)
    with open(cli.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
