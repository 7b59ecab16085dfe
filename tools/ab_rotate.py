#!/usr/bin/env python
"""Rotated A/B timing harness for the optimization rounds. The sandbox host
shows multi-x intermittent stalls and a strong first-minute JIT effect, so
single-shot wall timings cannot rank plan variants. This harness runs the
named queries in R rotations inside ONE warm session, flipping an env-driven
code variant per rotation (e.g. SPARK_GRAFT_NO_LOCAL_CC), and reports the MIN
per (query, variant) — the robust estimator under one-sided noise (same
rationale as bench.py's retry-min policy).

Usage:
  python tools/ab_rotate.py ENVVAR rotations q1,q2,...
The variant toggles between ENVVAR unset (variant "on") and ENVVAR=1
(variant "off") each rotation; pass "-" as ENVVAR for plain repeats.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_stream_processing_spark.queries import QUERIES
from flink_stream_processing_spark.session import get_spark


def main() -> None:
    envvar = sys.argv[1]
    rotations = int(sys.argv[2])
    names = sys.argv[3].split(",")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab_rotate")
    spark.sparkContext.setLogLevel("ERROR")
    # Warmup well past the JIT cliff: one real query + python worker +
    # page-cache pass + a couple of generic shuffle/join kernels.
    QUERIES["window_metrics"](spark, sf).collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").collect()
    for t in ("lineitem", "orders", "documents", "embeddings", "events", "customer"):
        try:
            spark.read.parquet(f"{sf}/{t}.parquet").write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception:
            pass
    from pyspark.sql import functions as F

    warm = spark.range(0, 2_000_000)
    warm.select((F.col("id") % 1000).alias("k"), F.col("id").alias("v")).groupBy(
        "k"
    ).count().write.format("noop").mode("overwrite").save()

    def pids():
        ids = set()
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            ids.add(int(it.next()._1()))
        return ids

    def release(before):
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            e = it.next()
            if int(e._1()) not in before:
                e._2().unpersist(True)

    results: dict[str, dict[str, list[float]]] = {}
    for r in range(rotations):
        for variant in ("on", "off") if envvar != "-" else ("on",):
            if envvar != "-":
                if variant == "off":
                    os.environ[envvar] = "1"
                else:
                    os.environ.pop(envvar, None)
            for name in names:
                pre = pids()
                t0 = time.perf_counter()
                QUERIES[name](spark, sf).collect()
                dt = round(time.perf_counter() - t0, 3)
                release(pre)
                results.setdefault(name, {}).setdefault(variant, []).append(dt)
                print(f"r{r} {variant} {name}: {dt}", file=sys.stderr, flush=True)
    out = {
        name: {v: {"min": min(ts), "all": ts} for v, ts in vs.items()}
        for name, vs in results.items()
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
