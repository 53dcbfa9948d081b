"""One-off instrumentation for the round-8 bench movers (judge order r8 #3).

Question: does the round-8 `_await_finished` drain (awaitTermination with a
timeout instead of an untimed wait) cost success-path wall time, or was the
bench.py move on streaming_sessions (2.0→3.2 s) and
streaming_windowed_counts (1.7→2.8 s) shared-JVM noise?

Method: monkeypatch `_await_finished` to time the drain call itself and
capture each micro-batch's JVM-reported durations (recentProgress →
triggerExecution).  If drain wall ≈ Σ batch triggerExecution + stream
startup, the drain adds nothing; any gap would be Python-side waiting the
old code did not have.

Run: python tools/instrument_streaming.py [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5


def main() -> None:
    from pyspark.sql import SparkSession

    from basin_climbing_data_pipeline_spark.streaming import events_stream as es

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("instrument-streaming")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    captured: list[dict] = []
    orig = es._await_finished

    def timed(q, timeout: int = 300) -> None:
        t0 = time.perf_counter()
        orig(q, timeout)
        drain_s = time.perf_counter() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        batch_ms = [p.get("durationMs", {}).get("triggerExecution", 0) for p in prog]
        captured.append(
            {
                "drain_s": round(drain_s, 3),
                "n_batches": len(prog),
                "batch_trigger_ms": batch_ms,
                "sum_trigger_s": round(sum(batch_ms) / 1000.0, 3),
            }
        )

    es._await_finished = timed

    from basin_climbing_data_pipeline_spark.registry import REGISTRY

    out: dict[str, list[dict]] = {}
    for name in (
        "streaming_attribution_join",  # round-10 adjudication target (r9 verdict #3)
        "streaming_sessions",
        "streaming_windowed_counts",
    ):
        fn = REGISTRY[name][0]
        runs = []
        for rep in range(REPS):
            captured.clear()
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            wall = time.perf_counter() - t0
            runs.append(
                {
                    "rep": rep,
                    "rows": n,
                    "query_wall_s": round(wall, 3),
                    "drain": list(captured),
                }
            )
        out[name] = runs
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
