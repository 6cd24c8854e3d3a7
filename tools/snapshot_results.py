#!/usr/bin/env python
"""Byte-equality snapshots for rows-only queries (r14 A/B guardrail).

Collects each named query in THIS (fresh) process at one or more SF
dirs and writes an md5 over the sorted stringified rows — compare the
JSON across two trees to prove a restructuring changed nothing.

    python tools/snapshot_results.py --out snap.json [--sf DIR ...] name...

Without ``--sf`` it snapshots the one SF dir named by
``$SPARK_GRAFT_SF_DIR`` (the catalog's default dir when unset).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--sf", action="append", default=None,
        help="SF dirs (repeatable; default $SPARK_GRAFT_SF_DIR)",
    )
    args = ap.parse_args()

    from gpu_database_spark.session import get_spark
    from gpu_database_spark import registry
    from gpu_database_spark.functions.materialize import release_all
    from gpu_database_spark.sources.catalog import DEFAULT_SF_DIR

    sf_dirs = args.sf or [DEFAULT_SF_DIR]

    spark = get_spark(app_name="snapshot-results")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    out: dict[str, dict[str, str]] = {}
    for name in args.names:
        out[name] = {}
        for sf in sf_dirs:
            rows = qs[name](spark, sf).collect()
            release_all(spark)
            blob = "\n".join(sorted(repr(tuple(r)) for r in rows))
            out[name][sf] = (
                f"n={len(rows)} md5={hashlib.md5(blob.encode()).hexdigest()}"
            )
            print(name, sf, out[name][sf], flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
