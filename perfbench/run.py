"""Benchmark entry point.

    python3 perfbench/run.py --workload encode_web --seed 1 --seconds 20 --trace 0

Runs one workload on a local[N] Spark session (N = CPUs available),
checks every answer, and prints one JSON object as the last line of
standard output.  With `--trace 0` it runs a fixed number of units of
work, `--seconds` over the workload's UNIT_SECONDS (a per-unit time
measured once) and at least its MIN_UNITS, so every run with the same
`--seconds` measures the same ops on any host; it reports the
end-to-end metrics.  With
`--trace 1` it runs a traced pass over every op type instead (spans,
job groups, Spark's event log, direct codec timing and the UDF
profiler), reports the per-layer metrics and writes the full trace to
`perfbench/.work/traces/<workload>-<seed>.json`.

Everything the run writes stays under `perfbench/.work/` of the
checkout, and the run removes its own scratch stores when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_HEAP = "2g"
END_TO_END = {
    "setup_s": "s", "encode_mb_s": "MB/s", "compression_ratio": "ratio",
    "decode_mb_s": "MB/s", "read_p50_s": "s", "read_tail_s": "s",
    "read_ops_s": "ops/s", "write_p50_s": "s", "write_tail_s": "s",
    "write_ops_s": "ops/s", "store_bytes_per_raw_byte": "ratio",
    "ok_op_frac": "frac", "driver_peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["encode_web", "store_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> str:
    """Make the package importable by Spark's Python workers and keep
    Spark's scratch files inside the checkout.  Returns the event-log
    directory (used only when tracing)."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, like the driver's, keeps out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed, pre-touched driver heap: with the default 8g ceiling the
    # JVM's resident size wanders by ~20% from run to run with GC timing
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # C1 only: a JVM that lives for one short run otherwise spends it
    # in C2 compiles that compete with the measured ops for the cores;
    # without them store_rw's ops ran ~10% faster and spread less
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
                f"-XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v!s}" if " " not in str(v) else f'--conf "{k}={v}"'
        for k, v in conf.items()) + " pyspark-shell"
    return events


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(wl, rec, setup_s: float, rss_mb: float) -> dict:
    from harness import p50, tail
    reads = [o["seconds"] for o in rec.of("read")]
    writes = [o["seconds"] for o in rec.of("write")]
    encodes = [o["raw_bytes"] / 1e6 / o["seconds"]
               for o in rec.of("write") if o["raw_bytes"]]
    decodes = [o["raw_bytes"] / 1e6 / o["seconds"]
               for kind in ("read", "final") for o in rec.of(kind)
               if o["raw_bytes"]]
    read_tail, read_pct, n_reads = tail(reads)
    write_tail, write_pct, n_writes = tail(writes)
    attempted = len(rec.ops)
    failed = sum(not o["ok"] for o in rec.ops)
    m = {
        "setup_s": setup_s,
        "encode_mb_s": p50(encodes),
        "compression_ratio": wl.facts["raw_bytes"] / wl.facts[
            "encoded_bytes"],
        "decode_mb_s": p50(decodes),
        "read_p50_s": p50(reads),
        "read_tail_s": read_tail,
        "read_ops_s": len(reads) / sum(reads) if reads else 0.0,
        "write_p50_s": p50(writes),
        "write_tail_s": write_tail,
        "write_ops_s": len(writes) / sum(writes) if writes else 0.0,
        "store_bytes_per_raw_byte": wl.facts["store_bytes"]
        / wl.live_raw_bytes(),
        "ok_op_frac": (attempted - failed) / attempted if attempted else 0.0,
        "driver_peak_rss_mb": rss_mb,
    }
    notes = {"read_tail_percentile": read_pct, "read_samples": n_reads,
             "write_tail_percentile": write_pct, "write_samples": n_writes,
             "encode_samples": len(encodes), "decode_samples": len(decodes),
             "ops": [[o["name"], round(o["seconds"], 3)] for o in rec.ops]}
    return m, notes


def traced_pass(spark, wl, rec, work: str):
    """A traced pass over every op type, an untraced reference unit,
    direct codec timing and a UDF-profiler pass."""
    import layers
    from harness import Tracer

    tracer = Tracer(spark)
    rec.tracer, rec.phase_name = tracer, "traced"
    rec.phase = tracer.start("phase:traced")
    for i in range(wl.TRACED_UNITS):
        wl.unit(i)
    tracer.end(rec.phase)
    rec.tracer, rec.phase = None, None
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # untraced reference unit, after the traced pass so both run warm
    # (reads only on store_rw, whose write cycle ran once already)
    rec.phase_name = "untraced"
    wl.unit(wl.TRACED_UNITS)

    rec.phase_name = "profile"
    codecs = layers.time_codecs(wl.table)
    profiles = "recorded by the encode_web trace"
    if wl.profile_pass is not None:
        prof_dir = os.path.join(work, "udf_profile")
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        wl.profile_pass()
        spark.profile.dump(prof_dir, type="perf")
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        profiles = layers.udf_profiles(prof_dir)
    return tracer, codecs, profiles


def finish_trace(tracer, codecs, profiles, rec, wl, events_dir, out_path):
    import eventlog
    import layers
    from harness import p50

    traced = [o for o in rec.ops if o["phase"] == "traced"]
    for o in traced:
        if o["name"] in layers.DELETE_OPS:
            o["normalised"] = layers.normalise(
                o["stats"], layers.DELETE_FACTS,
                "delete_" if o["name"] == "upsert_table" else "")
        elif o["kind"] == "read":
            o["normalised"] = layers.normalise(o["stats"], layers.READ_FACTS)
    op_spans = [s for s in tracer.spans if s["name"].startswith("op:")]
    jobs = eventlog.read_jobs(eventlog.log_files(events_dir))
    engine = eventlog.attribute(jobs, op_spans)
    for sid, rec_ in engine.items():  # job spans become child spans
        for k, (a, b) in enumerate(rec_.pop("job_spans")):
            tracer.spans.append({"id": f"{sid}.j{k}", "name": "spark-job",
                                 "parent": sid, "start": a, "end": b})
    tracer.self_times()

    ratios = []
    for name in sorted({o["name"] for o in traced}):
        a = [o["seconds"] for o in rec.ops
             if o["phase"] == "untraced" and o["name"] == name and o["ok"]]
        b = [o["seconds"] for o in traced if o["name"] == name and o["ok"]]
        if a and b:
            ratios.append({"op": name, "untraced_s": p50(a),
                           "traced_s": p50(b), "ratio": p50(b) / p50(a)})
    overhead = p50([r["ratio"] for r in ratios]) if ratios else 0.0
    metrics = layers.per_layer(traced, engine, codecs, wl.facts["layout"],
                               wl.facts.get("compact", []), overhead)

    by_op: dict = {}
    for o in traced:
        e = engine[o["span"]]
        by_op.setdefault(f'{o["kind"]}:{o["name"]}', []).append({
            "wall_s": o["seconds"], "job_s": e["job_s"],
            "driver_only_s": e["driver_only_s"],
            "untagged_jobs": e["untagged_jobs"], **e["metrics"]})
    artifact = {
        "workload": wl.name,
        "spans": tracer.spans,
        "ops": [{k: o[k] for k in ("kind", "name", "phase", "seconds", "ok",
                                   "error", "stats", "span", "raw_bytes")}
                | ({"normalised": o["normalised"]} if "normalised" in o
                   else {}) for o in rec.ops],
        "engine_per_op": by_op,
        "stats_keys_missing": {
            o["name"]: o["normalised"]["missing"] for o in traced
            if o.get("normalised", {}).get("missing")},
        "stats_keys_unmapped": {
            o["name"]: o["normalised"]["unmapped"] for o in traced
            if o.get("normalised", {}).get("unmapped")},
        "codecs": codecs,
        "udf_profile": profiles,
        "tracing_overhead": {
            "ratio_median": overhead, "per_op": ratios,
            "note": "spans and job groups only: Spark reads "
                    "spark.eventLog.enabled once at session start, so the "
                    "event log is on in both passes and its cost is not in "
                    "the ratio"},
        "store_layout": wl.facts["layout"],
        "metrics": metrics,
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    return metrics


def measure(args, work: str, events_dir: str, base: str, t_start: float):
    """Set up, run the workload, and return (metric values, units,
    (attempted, failed))."""
    from compressed_vec_spark.spark.session import get_spark
    from harness import Recorder, peak_rss_mb
    from workloads import WORKLOADS
    import layers

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(f"perfbench-{args.workload}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_start
    try:
        rec = Recorder(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, rec)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        if args.trace:
            out_path = os.path.join(base, "traces",
                                    f"{args.workload}-{args.seed}.json")
            tracer, codecs, profiles = traced_pass(spark, wl, rec, work)
        else:
            # a count fixed from --seconds, never from the clock, so a
            # faster host or change measures the same ops
            for i in range(max(wl.MIN_UNITS,
                               round(args.seconds / wl.UNIT_SECONDS))):
                wl.run_unit(i)
        rec.phase_name = "run"
        wl.finish()
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        wl.facts["setup_rss_python_mb"] = peak_rss_mb([os.getpid()])
    finally:
        stop_spark(spark)

    attempted = len(rec.ops)
    failed = sum(not o["ok"] for o in rec.ops)
    if args.trace:
        values = finish_trace(tracer, codecs, profiles, rec, wl, events_dir,
                              out_path)
        units = layers.PER_LAYER
        print(f"trace written to {os.path.relpath(out_path, ROOT)}")
    else:
        values, notes = end_to_end(wl, rec, setup_s, rss)
        units = END_TO_END
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "setup_session_s": round(session_s, 3),
                          **{k: round(v, 3) for k, v in wl.facts.items()
                             if k.startswith("setup_")}, **notes}))
    return values, units, (attempted, failed)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "compressed_vec_spark",
                                       "__init__.py")):
        print(f"perfbench: compressed_vec_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    events_dir = configure_env(work, bool(args.trace))
    try:
        values, units, counts = measure(args, work, events_dir, base, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"run wall time {time.perf_counter() - t_start:.1f} s")
    for name, unit in units.items():
        print(f"{name} = {values[name]:.6g} {unit}")
    attempted, failed = counts
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
