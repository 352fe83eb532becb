"""Result fingerprints: how they are computed, stored and derived.

A query fingerprint is ``[rows, sum, xor]`` over Spark's ``xxhash64`` of
every row, computed in the JVM. Both aggregates ignore row order. The sum
runs over ``decimal(38,0)``, because Spark runs in ANSI mode and a plain
``bigint`` sum of 64-bit hashes overflows. A lineage fingerprint is the
SHA-256 prefix of the graph's tree string with expression ids renumbered
in visit order, which is stable across sessions.

Derive the stored values once, from the repository root:

    python3 perfbench/fingerprints.py

This checks every query of the query workloads against its DuckDB oracle
(``registry.ORACLE``, compared as ``tests/oracle_harness.py`` does) and
refuses to write anything if one disagrees.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

STORE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def query_fingerprint(df) -> list:
    from pyspark.sql import functions as F

    cols = [f"c{i}" for i in range(len(df.columns))]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("bigint")
    row = (
        df.toDF(*cols)
        .select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.bit_xor("h").alias("x"),
        )
        .first()
    )
    return [row["n"], str(row["s"] or 0), row["x"] or 0]


def lineage_fingerprint(graph) -> str:
    return hashlib.sha256(graph.tree_string(normalize_ids=True).encode()).hexdigest()[:16]


def load() -> dict:
    with open(STORE, encoding="utf-8") as f:
        return json.load(f)


def _derive() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import run  # perfbench/run.py: the same environment and data as the benchmark

    from tests.oracle_harness import run_pair
    from ushas_spark import registry
    from ushas_spark.lineage import lineage
    from workloads import WORKLOADS

    data = run.testdata_dirs()
    run_dir = os.path.join(root, ".bench_run", f"derive-{os.getpid()}")
    run.pin_environment(run_dir)
    spark = run.start_session()
    registry.load_all()
    out: dict[str, dict] = {"queries": {}, "lineage": {}}
    problems: list[str] = []
    try:
        for wl in WORKLOADS.values():
            sf_dir = data[wl.sf]
            for name in wl.names:
                fn = registry.QUERIES[name]
                if wl.lineage_only:
                    out["lineage"][name] = lineage_fingerprint(lineage(fn(spark, sf_dir)))
                    continue
                oracle = registry.ORACLE.get(name)
                bad = ["no DuckDB oracle"] if oracle is None else run_pair(
                    spark, sf_dir, fn, oracle
                )
                problems += [f"{name}: {p}" for p in bad]
                out["queries"][name] = {"sf": wl.sf, "fp": query_fingerprint(fn(spark, sf_dir))}
                run.release_storage(spark)
                print(f"{name}: oracle {'ok' if not bad else 'MISMATCH'}", file=sys.stderr)
    finally:
        spark.stop()
        run.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if problems:
        raise SystemExit("oracle mismatch, nothing written:\n" + "\n".join(problems))
    with open(STORE, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {STORE}")


if __name__ == "__main__":
    _derive()
