"""Tests for the benchmark's event-log reader and summary helpers.

    python3 -m pytest perfbench/tests -q

`data/events_1_tiny.zstd` is a real PySpark 4.1 event log of two jobs
(see make_tiny_eventlog.py): a mapInArrow job under job group
`tiny-arrow` and a count with no job group.
"""

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402

TINY = os.path.join(HERE, "data", "events_1_tiny.zstd")


def test_reads_jobs_groups_and_python_metrics():
    jobs = eventlog.read_jobs([TINY])
    assert [j["group"] for j in jobs] == ["tiny-arrow", None]
    arrow, plain = (j["metrics"] for j in jobs)
    assert arrow["jobs"] == 1 and arrow["stages"] == 1 and arrow["tasks"] == 2
    # the MapInArrow node's SQL metrics reach the stage accumulables
    for name in ("python_run_s", "to_python_bytes", "from_python_bytes"):
        assert arrow[name] > 0, name
    assert arrow["executor_run_s"] > 0 and arrow["executor_cpu_s"] > 0
    assert plain["python_run_s"] == 0 and plain["tasks"] == 1
    assert all(j["end"] >= j["start"] for j in jobs)


def test_attribute_by_group_then_by_time():
    jobs = eventlog.read_jobs([TINY])
    tagged, untagged = jobs
    spans = [
        {"id": "tiny-arrow", "start": tagged["start"] - 1.0,
         "end": tagged["end"] + 0.5},
        {"id": "s2", "start": untagged["start"] - 0.25,
         "end": untagged["end"] + 0.25},
    ]
    out = eventlog.attribute(jobs, spans)
    a, b = out["tiny-arrow"], out["s2"]
    assert a["metrics"]["jobs"] == 1 and a["untagged_jobs"] == 0
    assert b["metrics"]["jobs"] == 1 and b["untagged_jobs"] == 1
    for rec, span in ((a, spans[0]), (b, spans[1])):
        wall = span["end"] - span["start"]
        assert abs(rec["driver_only_s"] + rec["job_s"] - wall) < 1e-9
    assert abs(a["driver_only_s"] - 1.5) < 1e-6


def test_log_files_in_rolling_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        shutil.copy(TINY, app / f"events_{n}_local-1.zstd")
    (app / "appstatus_local-1").write_text("")
    files = eventlog.log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1.zstd", "events_2_local-1.zstd",
        "events_10_local-1.zstd"]
    assert len(eventlog.read_jobs(files)) == 2  # same job ids collapse


def test_tail_percentile_rule():
    # under eleven samples: the interpolated 90th percentile, not the max
    value, pct, n = harness.tail([3.0, 1.0, 2.0])
    assert (round(value, 9), pct, n) == (2.8, 90, 3)
    values = [float(v) for v in range(1, 21)]  # 20 samples
    value, pct, n = harness.tail(values)
    assert (pct, n) == (50, 20)
    assert sum(v > value for v in values) >= 10


def test_normaliser_reports_missing_and_unmapped_keys():
    stats = {"total_chunks": 8, "scanned_chunks": 2, "pruned_chunks": 6,
             "dict_fast_chunks": 2, "where_specs": 1}
    got = layers.normalise(stats, layers.READ_FACTS)
    assert got["values"]["chunks_compressed"] == 2
    assert got["missing"] == ["chunks_bloom_pruned", "chunks_decoded"]
    assert got["unmapped"] == ["where_specs"]
    upsert = {"matched_deleted": 3, "delete_affected_chunks": 2,
              "delete_rows_deleted": 3, "delete_total_chunks": 8}
    got = layers.normalise(upsert, layers.DELETE_FACTS, prefix="delete_")
    assert got["values"]["rows_deleted"] == 3
    assert "chunks_scanned" in got["missing"]
