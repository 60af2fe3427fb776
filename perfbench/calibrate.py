#!/usr/bin/env python3
"""Regenerate ``oracle_digests.json``, the DuckDB oracle digest of every
registry query over the generated sf0.1 tables.

    python3 perfbench/calibrate.py

The benchmark computes a missing digest on demand and caches it under
``.perfbench/``, so a stale file costs time, never correctness.

Run it after a change to the table generator or to an oracle's SQL.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [CHECKOUT, HERE]


def _oracle(args: tuple[str, str, str]) -> tuple[str, dict]:
    import checks

    key, sql, sf_dir = args
    return key, checks.oracle_summary(sql, sf_dir)


def digests(sf_dir: str, data_fp: str, staging_root: str) -> dict:
    import checks
    from cl_tagger_batch_processing_spark.oracles import ORACLE_SQL

    todo = [
        (checks.oracle_key(name, sql, data_fp), sql, sf_dir)
        for name, sql in sorted(ORACLE_SQL.items())
        if staging_root not in sql
    ]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(2, mp_context=ctx) as pool:
        return dict(pool.map(_oracle, todo))


def main() -> int:
    import checks
    import datagen
    import workloads

    state = os.path.join(CHECKOUT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=state) as tmp:
        for sub in ("staging", "spark-local", "work"):
            os.makedirs(os.path.join(tmp, sub))
        os.environ["CL_TAGGER_STAGING_DIR"] = os.path.join(tmp, "staging")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join([CHECKOUT, HERE])
        os.chdir(os.path.join(tmp, "work"))
        sf_dir = os.path.join(tmp, f"sf{workloads.SF}")
        data_fp = datagen.write_tables(sf_dir, workloads.SF)
        data = digests(sf_dir, data_fp, os.environ["CL_TAGGER_STAGING_DIR"])
        os.chdir(CHECKOUT)
    with open(checks.COMMITTED_DIGESTS, "w") as f:
        json.dump(data, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"{len(data)} entries written to {os.path.relpath(checks.COMMITTED_DIGESTS, CHECKOUT)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
