#!/usr/bin/env python
"""Keyed-state streaming twin throughput bench (PERF §35/§37).

Measures events/s through one availableNow pass for each mode:

  jvm              windowed sum aggregate (JVM baseline, update mode)
  apws             stream_ewma, one state group per key
  sharded          stream_ewma(shards=N), shard-mapped keyed state
  sharded_ttl      same + state_ttl_s=3600 (prices the fork GC)
  cond_dt, changed, ddt, zscore, throttle, coalesce, stable, smax,
  few, mew, expired
                   the other keyed operators, one state group per key
  <op>_sharded     the same operator with shards=N (e.g.
                   cond_dt_sharded)
  smax_jvm         the pure-JVM max_by tier (update mode; per-batch
                   emission grain)

Usage:
  python tools/bench_streaming_state.py [--events 1000000]
      [--keys 1000000] [--modes jvm,apws,sharded]
      [--cpus 32] [--shards 64]

Prints one JSON line: {"events": N, "keys": K,
"modes": {name: {"sec": s, "ev_per_s": r}}}.

Notes: the generator writes one parquet dir per run; all modes read
the same files through the same file source into a noop sink, so the
delta between modes is the operator, not I/O.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_SILENT", "1")


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-streaming-state")
        # the HDFS-backed state store holds every key's state on the
        # heap; 1M keys x windowed-agg entries OOM the 1g default
        .config("spark.driver.memory", os.environ.get("BENCH_STATE_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def gen_events(spark, path: str, n: int, keys: int, files: int = 8) -> None:
    from pyspark.sql import functions as F

    (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), (F.col("id") % keys).cast("string")).alias("host"),
            F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1000).alias(
                "time"
            ),
            ((F.col("id") % 997).cast("double") / 7.0).alias("metric"),
        )
        .repartition(files)
        .write.mode("overwrite")
        .parquet(path)
    )


def keyed_ops():
    """mode -> fn(stream, **kw) building that keyed operator; kw is
    empty (one state group per key) or {"shards": N}."""
    from pyspark.sql import functions as F

    from mirabelle_spark import streaming as stx

    kw0 = dict(by=["host"], time_col="time")

    def stable(s, **kw):
        # status flips when the metric ramp crosses the threshold —
        # long confirmed runs (the steady-state fast path) with
        # periodic flaps that exercise the buffer machinery
        st = s.withColumn("status", F.when(F.col("metric") > 70.0, "hi").otherwise("lo"))
        return stx.stream_stable(st, 5.0, "status", **kw0, **kw)

    return {
        "ewma": lambda s, **kw: stx.stream_ewma(s, 0.25, **kw0, **kw),
        "cond_dt": lambda s, **kw: stx.stream_cond_dt(
            s, [":>", "metric", 60.0], 5.0, **kw0, **kw),
        "changed": lambda s, **kw: stx.stream_changed(s, "metric", **kw0, **kw),
        "ddt": lambda s, **kw: stx.stream_ddt(s, **kw0, **kw),
        "zscore": lambda s, **kw: stx.stream_zscore(s, 30.0, **kw0, **kw),
        "throttle": lambda s, **kw: stx.stream_throttle(s, 5, 30.0, **kw0, **kw),
        "coalesce": lambda s, **kw: stx.stream_coalesce(
            s, 60.0, fields=["host"], **kw0, **kw),
        "stable": stable,
        "smax": lambda s, **kw: stx.stream_smax(s, **kw0, **kw),
        "few": lambda s, **kw: stx.stream_fixed_event_window(s, 5, **kw0, **kw),
        "mew": lambda s, **kw: stx.stream_moving_event_window(s, 5, **kw0, **kw),
        "expired": lambda s, **kw: stx.stream_expired(s, **kw0, **kw),
    }


def run_mode(spark, mode: str, src: str, schema: str, ck_root: str, shards: int):
    from pyspark.sql import functions as F

    from mirabelle_spark.streaming import stream_smax_jvm

    stream = spark.readStream.schema(schema).parquet(src)
    ops = keyed_ops()
    if mode == "jvm":
        out = (
            stream.withWatermark("time", "0 seconds")
            .groupBy(F.window("time", "1 hour"), "host")
            .agg(F.sum("metric").alias("metric"))
        )
    elif mode == "apws":
        out = ops["ewma"](stream)
    elif mode == "sharded":
        out = ops["ewma"](stream, shards=shards)
    elif mode == "sharded_ttl":
        out = ops["ewma"](stream, shards=shards, state_ttl_s=3600.0)
    elif mode == "smax_jvm":
        out = stream_smax_jvm(stream, by=["host"], time_col="time")
    elif mode in ops:
        out = ops[mode](stream)
    elif mode.endswith("_sharded") and mode[: -len("_sharded")] in ops:
        out = ops[mode[: -len("_sharded")]](stream, shards=shards)
    else:
        raise SystemExit(f"unknown mode {mode}")

    # unique checkpoint per invocation: reusing one lets a repeated
    # mode see "no new files" under availableNow and do zero work
    ck = os.path.join(ck_root, f"{mode}_{time.monotonic_ns()}")
    t0 = time.monotonic()
    # jvm uses update mode so the windowed aggregate actually EMITS
    # under availableNow (append + 0s watermark seals no window on a
    # finite input -> zero rows written, flattering the baseline);
    # the keyed twins are append-per-event by construction
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .outputMode("update" if mode in ("jvm", "smax_jvm") else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.monotonic() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--keys", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--modes", default="jvm,apws,sharded")
    args = ap.parse_args()

    spark = make_spark(args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    work = tempfile.mkdtemp(prefix="bench_state_")
    src = os.path.join(work, "events")
    schema = "host string, time timestamp, metric double"
    try:
        gen_events(spark, src, args.events, args.keys)
        results = {}
        for mode in args.modes.split(","):
            mode = mode.strip()
            sec = run_mode(spark, mode, src, schema, os.path.join(work, "ck"), args.shards)
            results[mode] = {
                "sec": round(sec, 2),
                "ev_per_s": int(args.events / sec),
            }
            print(f"# {mode}: {sec:.2f}s = {int(args.events/sec):,} ev/s", flush=True)
        print(
            json.dumps(
                {"events": args.events, "keys": args.keys, "modes": results}
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
