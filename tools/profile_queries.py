"""Per-query profiler: wall time and Spark's own counts for each phase.

For each named registry query, in ONE session with Spark's event log on:

- build: queries()[name](spark, sf_dir) (plan construction, plus any
  documented build-time work: BPE learn collects, GEMM corpus collect,
  streaming gate execution)
- cold:  first noop-write action (codegen + execution)
- warm:  ``--warm`` further noop-write actions on the SAME DataFrame
  (codegen cached -> approximates pure execution)

``build_s``/``cold_s`` are wall times and ``warm_s`` the min of the warm
runs; cold_s - warm_s is the planning/codegen overhead.  Each phase's
jobs are tagged ``{name}:build`` / ``:cold`` / ``:warm`` with
``perfbench/tracing.describe``, and ``perfbench/tracing.parse_event_log``
turns the log into per-phase counts: stages, tasks, executor run and
CPU ms, shuffle read/write bytes, spill, Python-worker ms and
final-plan exchanges (warm: the mean per run).  Spark runs at
``local[nproc]`` (``perfbench/run.configure_env``); ``cores`` says so.

``--scale F [F ...]`` profiles against inflated copies of the sf dir
instead: for each factor the tables are replicated by :func:`inflate`
and written to the run's temp dir as one ``{table}.parquet`` file each.
Every run reports ``input_rows``, the rows of the replicated tables.

Usage: python tools/profile_queries.py q1 q2 ... [--warm N] [--out FILE]
           [--scale F [F ...]]
       (no names -> the full HEADLINE list from bench.py; input is
       $SPARK_GRAFT_SF_DIR; names go before --scale, which takes every
       number after it).  Prints one JSON line per run (the sf dir,
       or one per factor); --out writes the list of runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F
from run import configure_env, stop_engine
from tracing import describe, parse_event_log

import __spark_entry__ as entrymod
import bench
from etl_based_real_time_air_quality_monitoring_system_spark.session import get_session
from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import (
    TESTDATA_TABLES,
    load_table,
)

#: per-replica key offset, far above every key in the testdata
KEY_SHIFT = 10_000_000_000
#: key columns shifted per replica so key cardinality grows with the
#: data; tables not listed (nation, region) stay one copy, as in TPC-H
SCALED_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
#: event-log counts reported per phase (a count the log lacks is 0)
COUNTS = (
    "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_udf_ms", "final_plan_exchanges",
)


def inflate(df: DataFrame, table: str, factor: int) -> DataFrame:
    """``factor`` replicas of ``table``; replica 0 is the input itself.

    Replica r shifts the SCALED_KEYS columns by r * KEY_SHIFT.  Document
    tokens are suffixed ``_r`` (``n_chars`` follows the new text) so
    shingle vocabularies are disjoint across replicas: literal copies
    would make near-duplicate pair mass grow quadratically in the
    factor, a data artifact rather than a plan property.  Embeddings get
    a pseudo-random sign flip per (dimension, replica), which keeps
    every cosine within a replica and decorrelates replicas.  Tables
    outside SCALED_KEYS come back unchanged."""
    if table not in SCALED_KEYS:
        return df
    rep = F.col("_rep")
    cols = {c: F.col(c) + rep * F.lit(KEY_SHIFT) for c in SCALED_KEYS[table]}
    if table == "documents":
        salted = F.array_join(
            F.transform(
                F.split(F.trim("text"), r"\s+"),
                lambda t: F.concat(t, F.lit("_"), rep.cast("string")),
            ),
            " ",
        )
        text = F.when(rep == 0, F.col("text")).otherwise(salted)
        cols.update(text=text, n_chars=F.length(text).cast("long"))
    if table == "embeddings":
        def keep(i):
            wave = F.sin((i + 1).cast("double") * (rep + 1).cast("double") * F.lit(12.9898))
            return (rep == 0) | (wave >= 0)

        cols["embedding"] = F.transform(
            "embedding", lambda x, i: F.when(keep(i), x).otherwise(-x)
        )
    spine = df.sparkSession.range(factor).withColumnRenamed("id", "_rep")
    return df.crossJoin(spine).withColumns(cols).drop("_rep")


def write_scaled(spark, sf_dir: str, factor: int, out_dir: str) -> None:
    """Write every table of ``sf_dir``, inflated ``factor`` times, to
    ``out_dir`` as one ``{table}.parquet`` file (the streaming gates
    expose ``events.parquet`` to a file source through a symlink, so
    it must be a file, not a directory)."""
    os.makedirs(out_dir)
    for table in TESTDATA_TABLES:
        tmp = os.path.join(out_dir, f"_{table}")
        inflate(load_table(spark, sf_dir, table), table, factor).coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.rename(part, os.path.join(out_dir, f"{table}.parquet"))
        shutil.rmtree(tmp)


def input_rows(sf_dir: str) -> int:
    """Rows of the tables that ``--scale`` replicates (parquet footers)."""
    return sum(
        pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows for t in SCALED_KEYS
    )


def profile(spark, qs, names, sf_dir: str, warm: int, tag: str) -> dict:
    """Wall times of each query's phases; the jobs of phase p of query
    q are described as ``{q}{tag}:{p}``."""

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # prime file listing + JVM the same way bench.py does
    describe(spark, f"prime{tag}")
    noop(qs[names[0]](spark, sf_dir))
    rows = {}
    for name in names:
        describe(spark, f"{name}{tag}:build")
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build = time.perf_counter() - t0
        describe(spark, f"{name}{tag}:cold")
        cold = noop(df)
        describe(spark, f"{name}{tag}:warm")
        warms = [noop(df) for _ in range(warm)]
        rows[name] = r = {
            "build_s": round(build, 3),
            "cold_s": round(cold, 3),
            "warm_s": round(min(warms), 3) if warms else None,
        }
        print(
            f"{name + tag:32s} build {r['build_s']:7.3f}  cold {r['cold_s']:7.3f}"
            f"  warm {r['warm_s'] if warms else '-':>7}",
            file=sys.stderr,
        )
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument("--scale", type=int, nargs="+", metavar="F")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entrymod.queries()
    names = args.names or [n for n in bench.HEADLINE if n in qs]
    if not names:
        sys.exit("profile_queries: no queries to profile")
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"profile_queries: not in the registry: {unknown}")

    work = tempfile.mkdtemp(prefix="profile_queries-")
    try:
        log_dir = configure_env(work, traced=True)
        spark = get_session("profile")
        runs = []
        for factor in args.scale or [None]:
            run_dir, tag = sf_dir, ""
            if factor is not None:
                run_dir, tag = os.path.join(work, f"x{factor}"), f"@x{factor}"
                describe(spark, f"write{tag}")
                write_scaled(spark, sf_dir, factor, run_dir)
            runs.append((tag, {
                "sf_dir": sf_dir,
                "scale": factor,
                "input_rows": input_rows(run_dir),
                "cores": spark.sparkContext.defaultParallelism,
                "queries": profile(spark, qs, names, run_dir, args.warm, tag),
            }))
        stop_engine(spark)
        counts = parse_event_log(log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for tag, run in runs:
        for name, rec in run["queries"].items():
            for phase in ("build", "cold", "warm"):
                got = counts.get(f"{name}{tag}:{phase}", {})
                per = max(args.warm, 1) if phase == "warm" else 1
                rec[phase] = {k: round(got.get(k, 0) / per, 1) for k in COUNTS}
        print(json.dumps(run))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump([run for _, run in runs], fh, indent=1)


if __name__ == "__main__":
    main()
