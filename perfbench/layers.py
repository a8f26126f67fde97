"""Per-layer numbers for the traced run.

Layers are the package's modules: `codecs` (timed directly on the
seeded batches), `sources` and `spark` (from the stats dicts the public
calls return and from op spans), `engine` (Spark's event log) and
`store` (the store's on-disk layout).
"""

from __future__ import annotations

import glob
import os
import pstats
import statistics
import time

import pyarrow as pa

from harness import p50

CODEC_COLS = ["url", "text", "html", "lang", "warc_ts"]
READ_OPS = ["str_eq", "num_eq", "select_where", "range_wide", "grouped_agg",
            "str_eq_absent", "str_in", "range_narrow", "multi_and",
            "filtered_sum", "topk", "str_prefix", "route_group",
            "read_decoded"]
WRITE_OPS = ["encode_table", "append_table", "delete_where_equals",
             "delete_where_in", "delete_where_range", "upsert_table",
             "materialize_deletes", "compact_store"]
ENGINE = ["jobs", "stages", "tasks", "driver_only_s", "python_run_s",
          "python_start_s", "to_python_bytes", "from_python_bytes", "scan_s",
          "scan_bytes", "executor_cpu_s", "executor_run_s", "gc_s",
          "shuffle_write_bytes", "shuffle_records", "result_bytes",
          "output_bytes"]
STORE_DIRS = ["chunks", "manifest", "deletes", "append_log",
              "append_commits", "meta"]

# name -> unit of every per-layer metric a traced run prints
PER_LAYER: dict[str, str] = {}
for _c in CODEC_COLS:
    PER_LAYER[f"codecs.encode_mb_s.{_c}"] = "MB/s"
for _c in CODEC_COLS:
    PER_LAYER[f"codecs.decode_mb_s.{_c}"] = "MB/s"
for _c in CODEC_COLS:
    PER_LAYER[f"codecs.ratio.{_c}"] = "ratio"
PER_LAYER["codecs.bloom_build_mb_s"] = "MB/s"
PER_LAYER["codecs.kernel_share"] = "frac"
for _e in ENGINE:
    PER_LAYER[f"engine.{_e}"] = ("s" if _e.endswith("_s") else
                                 "bytes" if _e.endswith("_bytes") else "count")
for _o in READ_OPS:
    PER_LAYER[f"sources.{_o}.p50_s"] = "s"
for _k in ["chunks_total", "chunks_pruned", "chunks_scanned",
           "chunks_decoded"]:
    PER_LAYER[f"sources.{_k}"] = "count"
PER_LAYER["sources.prune_ratio"] = "frac"
for _o in WRITE_OPS:
    PER_LAYER[f"spark.{_o}.p50_s"] = "s"
for _k in ["delete.affected_chunks", "delete.rows_deleted",
           "compact.chunks_before", "compact.chunks_after"]:
    PER_LAYER[f"spark.{_k}"] = "count"
PER_LAYER["spark.compact.bytes_rewritten"] = "bytes"
for _d in STORE_DIRS:
    PER_LAYER[f"store.bytes.{_d}"] = "bytes"
PER_LAYER["trace.overhead_ratio"] = "ratio"

# Stats-key normaliser: one name per fact, with the keys different ops
# use for it today.
NORMAL_KEYS = {
    "chunks_total": ("total_chunks", "chunks_total"),
    "chunks_pruned": ("pruned_chunks",),
    "chunks_scanned": ("scanned_chunks",),
    "chunks_bloom_pruned": ("bloom_pruned_chunks",),
    "chunks_compressed": ("compressed_kernel_chunks", "dict_fast_chunks"),
    "chunks_decoded": ("decoded_chunks", "decoded_fallback_chunks"),
    "chunks_manifest_answered": ("covered_from_manifest",),
    "chunks_affected": ("affected_chunks",),
    "rows_deleted": ("rows_deleted",),
}
READ_FACTS = ["chunks_total", "chunks_pruned", "chunks_scanned",
              "chunks_bloom_pruned", "chunks_compressed", "chunks_decoded"]
DELETE_OPS = ["delete_where_equals", "delete_where_in", "delete_where_range",
              "upsert_table"]
DELETE_FACTS = ["chunks_total", "chunks_pruned", "chunks_scanned",
                "chunks_bloom_pruned", "chunks_affected", "rows_deleted"]


def normalise(stats: dict | None, wanted: list[str],
              prefix: str = "") -> dict:
    """Map an op's stats dict onto the normalised names.  Returns the
    values found, the wanted names no key supplied, and the source keys
    the normaliser does not know.  With `prefix`, only keys carrying it
    are read, with the prefix removed (upsert reports its delete step's
    stats as `delete_<key>`)."""
    stats = {k[len(prefix):]: v for k, v in (stats or {}).items()
             if k.startswith(prefix)}
    known = {k for keys in NORMAL_KEYS.values() for k in keys}
    values, missing = {}, []
    for name in wanted:
        found = [stats[k] for k in NORMAL_KEYS[name] if k in stats]
        if found:
            values[name] = sum(int(v or 0) for v in found)
        else:
            missing.append(name)
    unmapped = sorted(k for k, v in stats.items()
                      if k not in known and isinstance(v, (int, float)))
    return {"values": values, "missing": missing, "unmapped": unmapped}


def time_codecs(tbl: pa.Table, reps: int = 3) -> dict:
    """Single-thread encode / decode / Bloom-build timing of each web
    column on one chunk-sized slice of the seeded batch, through the
    same calls the encode UDF makes."""
    from compressed_vec_spark.codecs import bloom, chunk

    tbl = tbl.slice(0, 65536)
    out = {}
    for col in CODEC_COLS:
        arr = tbl.column(col).combine_chunks()
        str_like = (pa.types.is_string(arr.type) or pa.types.is_binary(arr.type))

        def encode():
            if str_like:
                return chunk.encode_column_arrow(arr)
            return chunk.encode_column(chunk.arrow_to_pandas_sparklike(arr))

        enc_t, dec_t, bloom_t = [], [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            codec, blob, _ = encode()
            enc_t.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            chunk.decode_column_arrow(blob, arr.type, "UTC")
            dec_t.append(time.perf_counter() - t0)
            if str_like:
                t0 = time.perf_counter()
                bloom.build(arr)
                bloom_t.append(time.perf_counter() - t0)
        out[col] = {"codec": codec, "raw_bytes": arr.nbytes,
                    "encoded_bytes": len(blob),
                    "encode_s": statistics.median(enc_t),
                    "decode_s": statistics.median(dec_t),
                    "bloom_s": statistics.median(bloom_t) if bloom_t else 0.0}
    return out


CODEC_FILES = {"fsst.py", "chunk.py", "dictionary.py", "rle.py", "bloom.py",
               "selector.py", "section_writer.py", "nibblepack.py",
               "sections.py", "vector.py"}
FSST_FUNCS = {"_encode_words", "_tokenize", "_token_keys"}


def udf_profiles(dump_dir: str, top: int = 12) -> dict:
    """Summarise the perf-profiler dumps: for the encode and decode UDFs,
    the top functions by own time and the split of own time between
    codec modules, the FSST word front end and everything else (Arrow
    conversion, pandas, PySpark)."""
    out = {}
    for path in sorted(glob.glob(os.path.join(dump_dir, "*.pstats"))):
        stats = pstats.Stats(path).stats
        funcs = {(f, name) for (f, _, name) in stats}
        role = ("encode" if ("encode_job.py", "fn") in funcs else
                "decode" if ("decode_job.py", "rebuild") in funcs else None)
        if role is None:
            continue
        total = sum(v[2] for v in stats.values())
        codec = sum(v[2] for (f, _, _), v in stats.items() if f in CODEC_FILES)
        fsst = {name: v[2] for (f, _, name), v in stats.items()
                if f == "fsst.py" and name in FSST_FUNCS}
        rows = sorted(stats.items(), key=lambda kv: -kv[1][2])[:top]
        out.setdefault(role, []).append({
            "udf": os.path.basename(path),
            "own_time_s": total,
            "codec_share": codec / total if total else 0.0,
            "fsst_front_end_s": fsst,
            "other_share": (total - codec) / total if total else 0.0,
            "top": [{"func": f"{f}:{line}({name})", "ncalls": v[1],
                     "tottime": v[2], "cumtime": v[3]}
                    for (f, line, name), v in rows]})
    for role in ("encode", "decode"):
        if role not in out:
            out[role] = "no profile recorded for this UDF"
    return out


def per_layer(ops: list[dict], engine_by_span: dict, codecs: dict,
              layout: dict, compact: list[dict], overhead: float) -> dict:
    """The per-layer metric values of one traced pass."""
    m = {name: 0.0 for name in PER_LAYER}
    for col, c in codecs.items():
        m[f"codecs.encode_mb_s.{col}"] = c["raw_bytes"] / 1e6 / c["encode_s"]
        m[f"codecs.decode_mb_s.{col}"] = c["raw_bytes"] / 1e6 / c["decode_s"]
        m[f"codecs.ratio.{col}"] = c["raw_bytes"] / c["encoded_bytes"]
    str_cols = [c for c in codecs.values() if c["bloom_s"] > 0]
    if str_cols:
        m["codecs.bloom_build_mb_s"] = (sum(c["raw_bytes"] for c in str_cols)
                                        / 1e6 / sum(c["bloom_s"]
                                                    for c in str_cols))
    # codec CPU per raw byte, scaled to the bytes the traced encodes
    # handled, over the Python worker time Spark reports for them
    cpu_per_byte = (sum(c["encode_s"] + c["bloom_s"] for c in codecs.values())
                    / sum(c["raw_bytes"] for c in codecs.values()))
    enc_ops = [o for o in ops if o["name"] in ("encode_table", "append_table",
                                               "upsert_table")]
    py_run = sum(engine_by_span[o["span"]]["metrics"]["python_run_s"]
                 for o in enc_ops)
    if py_run:
        m["codecs.kernel_share"] = (cpu_per_byte
                                    * sum(o["raw_bytes"] for o in enc_ops)
                                    / py_run)

    if ops:
        for e in ENGINE:
            vals = [(engine_by_span[o["span"]]["driver_only_s"]
                     if e == "driver_only_s"
                     else engine_by_span[o["span"]]["metrics"][e])
                    for o in ops]
            m[f"engine.{e}"] = sum(vals) / len(ops)

    for name in READ_OPS:
        secs = [o["seconds"] for o in ops
                if o["kind"] == "read" and o["name"] == name]
        m[f"sources.{name}.p50_s"] = p50(secs)
    facts = {k: 0 for k in READ_FACTS}
    for o in ops:
        if o["kind"] == "read":
            for k, v in o["normalised"]["values"].items():
                facts[k] += v
    for k in ["chunks_total", "chunks_pruned", "chunks_scanned",
              "chunks_decoded"]:
        m[f"sources.{k}"] = facts[k]
    if facts["chunks_total"]:
        m["sources.prune_ratio"] = facts["chunks_pruned"] / facts["chunks_total"]

    for name in WRITE_OPS:
        secs = [o["seconds"] for o in ops
                if o["kind"] == "write" and o["name"] == name]
        m[f"spark.{name}.p50_s"] = p50(secs)
    for o in ops:
        if o["name"] in DELETE_OPS:
            vals = o["normalised"]["values"]
            m["spark.delete.affected_chunks"] += vals.get("chunks_affected", 0)
            m["spark.delete.rows_deleted"] += vals.get("rows_deleted", 0)
    if compact:
        last = compact[-1]
        m["spark.compact.chunks_before"] = last.get("chunks_before", 0)
        m["spark.compact.chunks_after"] = last.get("chunks_after", 0)
        m["spark.compact.bytes_rewritten"] = last.get("bytes_rewritten", 0)

    for d in STORE_DIRS:
        m[f"store.bytes.{d}"] = (layout.get("store_meta", 0)
                                 + layout.get("table_schema", 0)
                                 if d == "meta" else layout.get(d, 0))
    m["trace.overhead_ratio"] = overhead
    return m
