"""The ingest path the API serving workload reads: staged event chunks
drained through ``streaming.incremental.incremental_rollup``.

Set-up of ``api_serving`` deals the generated events to chunk files at
random (seeded), then drains them with a file stream that takes one file per
trigger into a fresh versioned rollup table with a fresh checkpoint. The
API then serves the rollup beside the emergency marts, as the reference's
public views serve the data its ingest jobs keep fresh.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

EVENT_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
KEYS = ["event_date", "event_type"]
MEASURES = {"value": "value"}
CHUNKS = 4


def stage_events(events_file: str, in_dir: str, seed: int) -> int:
    """Deal the rows of ``events_file`` to ``CHUNKS`` parquet files with
    ascending mtimes, so the file source delivers chunk ``k`` as trigger
    ``k``. Returns the number of rows."""
    table = pq.read_table(events_file, columns=["event_id", "ts", "user_id",
                                                "event_type", "value"])
    assign = np.random.default_rng(seed).integers(CHUNKS, size=len(table))
    os.makedirs(in_dir, exist_ok=True)
    base = time.time() - 3600
    for k in range(CHUNKS):
        path = os.path.join(in_dir, f"{k:04d}.parquet")
        pq.write_table(table.filter(assign == k), path)
        os.utime(path, (base + k, base + k))
    return len(table)


def drain_rollup(spark, in_dir: str, table: str, ckpt: str, tracer) -> dict:
    """Drain the staged chunks into the rollup table. Returns the drain wall
    time and the engine-reported progress of each trigger that read rows."""
    from pyspark.sql import functions as F

    from emdatapipelines_spark.streaming.incremental import incremental_rollup

    stream = (spark.readStream.option("maxFilesPerTrigger", 1).schema(EVENT_SCHEMA)
              .parquet(in_dir).withColumn("event_date", F.to_date("ts")))
    pc0, wall0 = time.perf_counter(), time.time()
    with tracer.span("streaming.rollup_drain", run="setup"):
        q = incremental_rollup(stream, table, KEYS, MEASURES, ckpt)
        q.awaitTermination()
    wall = time.perf_counter() - pc0
    triggers = sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])
    for p in triggers:  # engine-reported triggers as child spans of the drain
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        start = pc0 + (start - wall0)
        tracer.add("streaming.trigger", start,
                   start + p["durationMs"]["triggerExecution"] / 1000,
                   parent_name="streaming.rollup_drain", run="setup")
    return {"wall": wall, "triggers": triggers}


def check_rollup(spark, in_dir: str, table: str, tracer) -> list[str]:
    """The rollup state must equal one ``partial_aggregate`` over every event."""
    from pyspark.sql import functions as F

    from emdatapipelines_spark.operators.reaggregate import partial_aggregate
    from emdatapipelines_spark.versioned import read_versioned

    with tracer.span("versioned.read_rollup", run="setup"):
        state = read_versioned(spark, table)
    with tracer.span("operators.partial_aggregate", run="setup"):
        events = spark.read.schema(EVENT_SCHEMA).parquet(in_dir)
        want = partial_aggregate(events.withColumn("event_date", F.to_date("ts")),
                                 KEYS, MEASURES)
        if state.exceptAll(want).count() or want.exceptAll(state).count():
            return ["rollup state differs from one partial_aggregate over all events"]
    return []
