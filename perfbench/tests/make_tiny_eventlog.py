"""Regenerate the tiny event log the event-log reader test parses.

    python3 perfbench/tests/make_tiny_eventlog.py

Runs two small jobs on a local[2] session with the event log on: one
mapInArrow job under job group `tiny-arrow` and one plain count with no
job group.  The job and stage events of the log, with host-specific properties,
stage names and stack details removed, are written zstd-compressed to
`perfbench/tests/data/events_1_tiny.zstd`.
"""

import glob
import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))


KEEP_PROPS = {"spark.jobGroup.id", "spark.job.description",
              "spark.sql.execution.id"}
KEEP_STAGE = {"Stage ID", "Stage Attempt ID", "Number of Tasks",
              "Submission Time", "Completion Time", "Accumulables"}


def _strip(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        ev.pop("Stage Infos", None)
        ev["Properties"] = {k: v for k, v in ev["Properties"].items()
                            if k in KEEP_PROPS}
        return ev
    if kind == "SparkListenerStageCompleted":
        ev["Stage Info"] = {k: v for k, v in ev["Stage Info"].items()
                            if k in KEEP_STAGE}
        return ev
    return ev if kind == "SparkListenerJobEnd" else None


def main() -> int:
    tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "data"))
    try:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{tmp} pyspark-shell")
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())

        def double(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [pc.multiply(b.column(0), 2)], names=["id"])

        spark.sparkContext.setJobGroup("tiny-arrow", "mapInArrow job")
        spark.range(0, 1000, 1, 2).mapInArrow(double, "id long").collect()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 10, 1, 1).count()
        spark.stop()
        (src,) = glob.glob(os.path.join(tmp, "eventlog_v2_*", "events_*"))
        with pa.CompressedInputStream(src, "zstd") as f:
            lines = f.read().decode().splitlines()
        out = os.path.join(HERE, "data", "events_1_tiny.zstd")
        with pa.CompressedOutputStream(out, "zstd") as f:
            for line in lines:
                kept = _strip(json.loads(line))
                if kept is not None:
                    f.write((json.dumps(kept, separators=(",", ":"))
                             + "\n").encode())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
