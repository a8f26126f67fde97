"""The benchmark's workloads and their seeded inputs.

Each workload is driven by one closed-loop client: a unit of work (two
reads and one write for `store_rw`, one encode and four decodes for
`encode_web`) starts only after the previous one finished.  Inputs
come from the seed alone; the package sees only the generated tables.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from compressed_vec_spark.sources import encoded_table as et
from compressed_vec_spark.sources import sql_router
from compressed_vec_spark.spark import (compact_job, delete_job, encode_job,
                                        webtable)

from harness import Recorder, dir_bytes
from layers import READ_OPS, WRITE_OPS

WEB_FIELDS = [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
              ("html", pa.binary()), ("text", pa.string()),
              ("lang", pa.string())]
INT_FIELDS = [("doc_id", pa.int64()), ("host_rank", pa.int64()),
              ("n_tok", pa.int64())]
N_HOSTS = 400


def web_table(seed: int, n: int, id_offset: int = 0,
              with_ints: bool = False) -> pa.Table:
    """Seeded web pages (url, warc_ts, html, text, lang) over N_HOSTS
    hosts whatever the batch size, optionally with three int64 columns:
    doc_id (the row id, so a store built in input order is sorted on
    it), host_rank and n_tok."""
    ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    pdf = webtable.gen_batch(ids, seed=seed, n_hosts=N_HOSTS)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    fields = list(WEB_FIELDS)
    if with_ints:
        pdf["doc_id"] = ids
        pdf["host_rank"] = (pdf["url"].str.extract(r"site-(\d+)\.")[0]
                            .astype(np.int64))
        pdf["n_tok"] = pdf["text"].str.count(" ").astype(np.int64) + 1
        fields += INT_FIELDS
    return pa.Table.from_pandas(pdf, schema=pa.schema(fields),
                                preserve_index=False)


def canonical(tbl: pa.Table, sort_keys: list[str]) -> pa.Table:
    """Same values, comparable layout: timestamps as UTC epoch µs,
    large string/binary as plain, rows sorted."""
    cols = {}
    for f in tbl.schema:
        c = tbl.column(f.name)
        if pa.types.is_timestamp(f.type):
            c = c.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64())
        elif pa.types.is_large_string(f.type):
            c = c.cast(pa.string())
        elif pa.types.is_large_binary(f.type):
            c = c.cast(pa.binary())
        cols[f.name] = c
    t = pa.table(cols)
    return t.sort_by([(k, "ascending") for k in sort_keys]).combine_chunks()


def blob_bytes(store: str) -> int:
    """Encoded chunk bytes: the summed length of every chunk blob."""
    blobs = pq.read_table(os.path.join(store, "chunks"), columns=["blob"])
    return int(pc.sum(pc.binary_length(blobs.column("blob"))).as_py() or 0)


def chunk_hashes(store: str) -> list[tuple[str, int]]:
    """(sha256, encoded bytes) of every chunk blob the manifest lists.
    A chunk compaction passes through keeps its hash; a merged one gets
    a new one."""
    m = pq.read_table(os.path.join(store, "manifest"),
                      columns=["sha256", "encoded_bytes"]).to_pydict()
    return list(zip(m["sha256"], m["encoded_bytes"]))


def live_rows(store: str, first_col: str) -> int:
    """Live row count read straight from the store's files: rows of the
    first column in the manifest minus the delete sidecar's n_deleted."""
    m = pq.read_table(os.path.join(store, "manifest"),
                      columns=["column", "num_elements"])
    m = m.filter(pc.equal(m.column("column"), first_col))
    total = int(pc.sum(m.column("num_elements")).as_py() or 0)
    deletes = os.path.join(store, "deletes")
    if os.path.isdir(deletes):
        d = pq.read_table(deletes, columns=["n_deleted"])
        total -= int(pc.sum(d.column("n_deleted")).as_py() or 0)
    return total


def store_layout(store: str) -> dict[str, int]:
    """On-disk bytes per top-level directory of a store."""
    return {d: dir_bytes(os.path.join(store, d)) for d in sorted(os.listdir(store))
            if os.path.isdir(os.path.join(store, d))}


class Timer:
    """Lap timer writing named durations into a facts dict."""

    def __init__(self, facts: dict):
        self.facts, self.t = facts, time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.facts[name] = now - self.t
        self.t = now


def write_parquet(tbl: pa.Table, path: str, row_group_size=None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=row_group_size)
    return path


class EncodeWeb:
    """Encode a seeded web table into a fresh store, then decode the
    whole store and compare it bit for bit with the input."""

    name = "encode_web"
    ROWS = 40_000
    DECODES = 4  # a decode takes ~1 s, so one sample per encode is noisy
    MIN_UNITS = 1  # what a run fits: an encode_web run is ~42 s, 70% of it setup
    UNIT_SECONDS = 11.5  # one encode_table + DECODES read_decoded, measured once
    TRACED_UNITS = 1  # plus the untraced reference unit and the profile pass
    KEYS = ["url", "warc_ts", "text"]

    def __init__(self, spark, work: str, seed: int, rec: Recorder):
        self.spark, self.work, self.seed, self.rec = spark, work, seed, rec
        self.facts: dict = {}

    def setup(self) -> None:
        t = Timer(self.facts)
        tbl = web_table(self.seed, self.ROWS)
        self.input = write_parquet(tbl, os.path.join(self.work, "in",
                                                     "web.parquet"))
        self.table = tbl
        self.raw_bytes = tbl.nbytes
        self.facts["raw_bytes"] = tbl.nbytes
        self.expected = canonical(tbl, self.KEYS)
        t.lap("setup_input_s")
        # warm-up on the full input: a smaller batch leaves the first
        # measured encode ~10% slower than the ones after it
        out = os.path.join(self.work, "warm_store")
        encode_job.encode_table(self.spark, self.spark.read.parquet(
            self.input), out)
        et.read_decoded(self.spark, out).toArrow()
        shutil.rmtree(out)
        t.lap("setup_warm_s")

    def unit(self, i: int) -> None:
        spark, rec = self.spark, self.rec
        out = os.path.join(self.work, f"store{i}")
        rec.run("write", "encode_table",
                lambda: encode_job.encode_table(
                    spark, spark.read.parquet(self.input), out),
                raw_bytes=self.raw_bytes)
        for _ in range(self.DECODES):
            rec.run("read", "read_decoded",
                    lambda: et.read_decoded(spark, out).toArrow(),
                    check=lambda t: canonical(t, self.KEYS).equals(
                        self.expected),
                    raw_bytes=self.raw_bytes)
        if "store_bytes" not in self.facts and os.path.isdir(
                os.path.join(out, "chunks")):
            self.facts.update(encoded_bytes=blob_bytes(out),
                              store_bytes=dir_bytes(out),
                              layout=store_layout(out))
        shutil.rmtree(out, ignore_errors=True)

    def finish(self) -> None:
        pass

    def live_raw_bytes(self) -> int:
        return self.raw_bytes

    run_unit = unit

    def profile_pass(self) -> None:
        self.unit(-1)


class StoreRW:
    """Store reads and store writes on stores built during setup.

    Reads go to a read-only store: a seeded web table with int columns,
    encoded in input order so it is sorted on doc_id.  Each read's
    answer is compared with DuckDB over the same source rows and
    literals.  Writes mutate a copy of that store.  Untraced runs
    repeat a fixed mix (num_eq reads; append_table and
    delete_where_equals writes); the traced run goes once through every
    read op and the write cycle append, three deletes, upsert,
    materialize_deletes, compact_store.  After each write the live row
    count, read from the store's own files, must equal the benchmark's
    pandas model of the table, and the run ends with full decodes
    compared against the model."""

    name = "store_rw"
    ROWS = 20_000
    BATCH = 2_000
    UPSERT = 100
    PART_ROWS = 2_500  # one input row group = one Spark partition = one part
    CHUNK_ROWS = 1_250  # two chunks per part, so compact_store merges them
    MIN_UNITS = 3  # what a run fits: a store_rw run is ~65 s, half of it setup
    UNIT_SECONDS = 8.0  # READS_PER_UNIT reads + one write op, measured once
    TRACED_UNITS = len(READ_OPS)
    # untraced runs repeat a fixed op mix; setup calls each op type once
    # first where that first call ran 15-40% slower than later ones.  The
    # reads are all of one type so that their median and tail rest on
    # several samples each, not on one slow call of a costlier type.
    RUN_READ = "num_eq"
    READS_PER_UNIT = 2
    RUN_WRITES = ["append_table", "delete_where_equals"]
    FINAL_DECODES = 3
    DELETE_LANGS = ["it", "nl", "pl", "tr"]
    VIEW = "web_enc"
    LANGS = ["de", "fr", "es", "zh", "ru"]
    ABSENT = ["xa", "qq", "xx", "zy"]
    READS = READ_OPS
    WRITES = WRITE_OPS[1:]  # encode_table is encode_web's

    def __init__(self, spark, work: str, seed: int, rec: Recorder):
        self.spark, self.work, self.seed, self.rec = spark, work, seed, rec
        self.rng = np.random.default_rng(seed)
        self.delete_langs = [str(v) for v in self.rng.permutation(
            self.DELETE_LANGS)]
        self.facts: dict = {"compact": []}

    # --- setup -------------------------------------------------------
    def setup(self) -> None:
        t = Timer(self.facts)
        tbl = web_table(self.seed, self.ROWS, with_ints=True)
        self.table = tbl
        inp = write_parquet(tbl, os.path.join(self.work, "in", "web.parquet"),
                            row_group_size=self.PART_ROWS)
        t.lap("setup_input_s")
        self.read_store = os.path.join(self.work, "read_store")
        batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        batch_rows = self.spark.conf.get(batch_key)
        self.spark.conf.set(batch_key, str(self.CHUNK_ROWS))
        try:
            encode_job.encode_table(self.spark, self.spark.read.parquet(inp),
                                    self.read_store, url_col=None)
        finally:
            self.spark.conf.set(batch_key, batch_rows)
        t.lap("setup_build_s")
        self.store = os.path.join(self.work, "w0")
        shutil.copytree(self.read_store, self.store)
        et.register_encoded_table(self.spark, self.read_store, self.VIEW)
        self.con = duckdb.connect()
        self.con.register("web", tbl)
        self.model = tbl.to_pandas()
        self.next_id = self.ROWS
        self.generation = 0
        self.facts["raw_bytes"] = tbl.nbytes
        self.facts["encoded_bytes"] = blob_bytes(self.read_store)
        t.lap("setup_copy_s")
        # warm up, checked, the op types the untraced runs repeat
        # (delete_where_equals ran no slower on its first call)
        self.rec.run("setup", self.RUN_READ, *self._read(self.RUN_READ))
        call, check, _ = self._write("append_table")
        self.rec.run("setup", "append_table", call, check)
        self.rec.run("setup", "read_decoded", *self._read("read_decoded"))
        t.lap("setup_warm_s")

    # --- reads -------------------------------------------------------
    def _q(self, sql: str, params=()):
        return self.con.execute(sql, list(params)).fetchall()

    def _read(self, name: str):
        spark, store, rng, n = self.spark, self.read_store, self.rng, self.ROWS
        lo = int(rng.integers(0, n // 2))
        hi = lo + int(rng.integers(n // 8, n // 3))
        lang = str(rng.choice(self.LANGS))
        if name == "str_eq":
            want = self._q("SELECT count(*) FROM web WHERE lang = ?", [lang])
            return (lambda: et.pruned_string_equals_count(
                spark, store, "lang", lang), lambda r: r[0] == want[0][0])
        if name == "str_eq_absent":
            v = str(rng.choice(self.ABSENT))
            return (lambda: et.pruned_string_equals_count(
                spark, store, "lang", v), lambda r: r[0] == 0)
        if name == "str_in":
            vals = [str(v) for v in rng.choice(self.LANGS, 2, replace=False)]
            vals.append(str(rng.choice(self.ABSENT)))
            want = self._q("SELECT count(*) FROM web WHERE lang IN (?, ?, ?)",
                           vals)
            return (lambda: et.pruned_string_in_count(
                spark, store, "lang", vals), lambda r: r[0] == want[0][0])
        if name == "str_prefix":
            prefix = f"https://site-{int(rng.integers(1, 10))}"
            want = self._q("SELECT count(*) FROM web WHERE starts_with(url, ?)",
                           [prefix])
            return (lambda: et.pruned_string_prefix_count(
                spark, store, "url", prefix), lambda r: r[0] == want[0][0])
        if name == "num_eq":
            v = int(rng.integers(0, n))
            return (lambda: et.pruned_equals_count(spark, store, "doc_id", v),
                    lambda r: r[0] == 1)
        if name in ("range_wide", "range_narrow"):
            if name == "range_wide":
                a, b = int(rng.integers(0, n // 50)), n - int(
                    rng.integers(1, n // 50))
            else:
                a = int(rng.integers(0, n - 300))
                b = a + int(rng.integers(50, 300))
            want = self._q("SELECT count(*) FROM web WHERE doc_id BETWEEN ? AND ?",
                           [a, b])
            return (lambda: et.pruned_range_count(spark, store, "doc_id", a, b),
                    lambda r: r[0] == want[0][0])
        if name == "multi_and":
            rank = int(rng.integers(1, 4))
            want = self._q("SELECT count(*) FROM web WHERE doc_id BETWEEN ? AND ?"
                           " AND host_rank = ?", [lo, hi, rank])
            return (lambda: et.pruned_multi_and_count(
                spark, store, "doc_id", lo, hi, "host_rank", rank),
                lambda r: r[0] == want[0][0])
        if name == "filtered_sum":
            want = self._q("SELECT sum(n_tok) FROM web WHERE doc_id BETWEEN ? AND ?",
                           [lo, hi])
            return (lambda: et.pruned_filtered_sum(spark, store, "doc_id", lo,
                                                   hi, "n_tok"),
                    lambda r: int(r[0]) == int(want[0][0]))
        if name == "topk":
            k = int(rng.integers(5, 20))
            want = [r[0] for r in self._q(
                "SELECT n_tok FROM web ORDER BY n_tok DESC LIMIT ?", [k])]
            return (lambda: et.pruned_topk(spark, store, "n_tok", k),
                    lambda r: sorted(r[0], reverse=True) == want)
        if name == "grouped_agg":
            aggs = [{"fn": "count", "col": None, "alias": "n"},
                    {"fn": "sum", "col": "n_tok", "alias": "s"}]
            want = sorted(self._q("SELECT lang, count(*), sum(n_tok) FROM web"
                                  " GROUP BY lang"))

            def call():
                df, stats = et.grouped_dict_agg(spark, store, "lang", aggs)
                return sorted((r[0], int(r[1]), int(r[2]))
                              for r in df.collect()), stats
            return call, lambda r: r[0] == [(a, int(b), int(c))
                                            for a, b, c in want]
        if name == "select_where":
            sql = (f"SELECT doc_id, n_tok FROM {self.VIEW} WHERE doc_id BETWEEN"
                   f" {lo} AND {hi} AND lang = '{lang}'")
            want = sorted(self._q("SELECT doc_id, n_tok FROM web WHERE doc_id"
                                  " BETWEEN ? AND ? AND lang = ?",
                                  [lo, hi, lang]))

            def call():
                df, stats = sql_router.route_sql(spark, store, sql,
                                                 view=self.VIEW)
                return sorted(tuple(r) for r in df.collect()), stats
            return call, lambda r: r[0] == want
        if name == "route_group":
            sql = (f"SELECT lang, count(*) AS c FROM {self.VIEW} WHERE doc_id"
                   f" BETWEEN {lo} AND {hi} GROUP BY lang")
            want = sorted(self._q("SELECT lang, count(*) FROM web WHERE doc_id"
                                  " BETWEEN ? AND ? GROUP BY lang", [lo, hi]))

            def call():
                df, stats = sql_router.route_sql(spark, store, sql,
                                                 view=self.VIEW)
                return sorted(tuple(r) for r in df.collect()), stats
            return call, lambda r: r[0] == want
        if name == "read_decoded":
            want = canonical(self.table, ["doc_id"])
            return (lambda: et.read_decoded(spark, store).toArrow(),
                    lambda t: canonical(t, ["doc_id"]).equals(want))
        raise ValueError(name)

    # --- writes ------------------------------------------------------
    def _batch(self, n: int) -> pa.Table:
        tbl = web_table(self.seed, n, id_offset=self.next_id, with_ints=True)
        self.next_id += n
        return tbl

    def _write_check(self, expect_deleted=None):
        def check(result):
            if expect_deleted is not None and \
                    int(result["rows_deleted"]) != expect_deleted:
                return False
            return live_rows(self.store, "url") == len(self.model)
        return check

    def _delete(self, mask: np.ndarray):
        n = int(mask.sum())
        self.model = self.model[~mask].reset_index(drop=True)
        return n

    def _write(self, name: str):
        spark, rng, store = self.spark, self.rng, self.store
        tag = f"{self.generation}_{len(self.rec.ops)}"
        if name == "append_table":
            tbl = self._batch(self.BATCH)
            path = write_parquet(tbl, os.path.join(self.work, "in",
                                                   f"append{tag}.parquet"))
            self.model = pd.concat([self.model, tbl.to_pandas()],
                                   ignore_index=True)
            return (lambda: encode_job.append_table(
                spark, spark.read.parquet(path), store, batch_id=f"a{tag}"),
                self._write_check(), tbl.nbytes)
        if name == "delete_where_equals":
            n_done = sum(o["name"] == name for o in self.rec.ops)
            v = self.delete_langs[n_done % len(self.delete_langs)]
            n = self._delete(self.model["lang"].to_numpy() == v)
            return (lambda: delete_job.delete_where_equals(
                spark, store, "lang", v, f"de{tag}"),
                self._write_check(n), 0)
        if name == "delete_where_in":
            urls = [str(u) for u in rng.choice(self.model["url"].to_numpy(),
                                               20, replace=False)]
            urls.append("https://absent.example.com/page/0")
            n = self._delete(self.model["url"].isin(urls).to_numpy())
            return (lambda: delete_job.delete_where_in(
                spark, store, "url", urls, f"di{tag}"),
                self._write_check(n), 0)
        if name == "delete_where_range":
            a = int(rng.integers(0, self.next_id - 600))
            b = a + int(rng.integers(100, 500))
            ids = self.model["doc_id"].to_numpy()
            n = self._delete((ids >= a) & (ids <= b))
            return (lambda: delete_job.delete_where_range(
                spark, store, "doc_id", a, b, f"dr{tag}"),
                self._write_check(n), 0)
        if name == "upsert_table":
            pick = rng.choice(len(self.model), self.UPSERT, replace=False)
            old = self.model.iloc[np.sort(pick)].copy()
            old["text"] = "updated " + old["text"]
            old["n_tok"] = old["n_tok"] + 1
            new = self._batch(self.UPSERT).to_pandas()
            new = new[~new["url"].isin(self.model["url"])]
            batch = pd.concat([old, new], ignore_index=True)
            tbl = pa.Table.from_pandas(batch, schema=self.table.schema,
                                       preserve_index=False)
            path = write_parquet(tbl, os.path.join(self.work, "in",
                                                   f"upsert{tag}.parquet"))
            matched = int(self.model["url"].isin(batch["url"]).sum())
            self.model = pd.concat(
                [self.model[~self.model["url"].isin(batch["url"])], batch],
                ignore_index=True)

            def check(result):
                return (int(result["matched_deleted"]) == matched
                        and live_rows(self.store, "url") == len(self.model))
            return (lambda: delete_job.upsert_table(
                spark, spark.read.parquet(path), store, "url", f"u{tag}"),
                check, tbl.nbytes)
        if name in ("materialize_deletes", "compact_store"):
            self.generation += 1
            dst = os.path.join(self.work, f"w{self.generation}")
            fn = (delete_job.materialize_deletes if name == "materialize_deletes"
                  else compact_job.compact_store)
            before = ({h for h, _ in chunk_hashes(store)}
                      if name == "compact_store" else set())

            def check(result):
                if name == "compact_store":  # merged chunks only
                    self.facts["compact"].append({**result, "bytes_rewritten": sum(
                        n for h, n in chunk_hashes(dst) if h not in before)})
                self.store = dst
                shutil.rmtree(store, ignore_errors=True)
                return live_rows(dst, "url") == len(self.model)
            return lambda: fn(spark, store, dst), check, 0
        raise ValueError(name)

    def run_unit(self, i: int) -> None:
        """Untraced unit i: READS_PER_UNIT reads, then one write."""
        for _ in range(self.READS_PER_UNIT):
            self.rec.run("read", self.RUN_READ, *self._read(self.RUN_READ))
        name = self.RUN_WRITES[i % len(self.RUN_WRITES)]
        call, check, raw = self._write(name)
        self.rec.run("write", name, call, check, raw_bytes=raw)

    def unit(self, i: int) -> None:
        """Traced unit i: read op i of the read cycle, then write op i of
        the write cycle; the write cycle runs once per run, so units past
        its end only read."""
        name = self.READS[i % len(self.READS)]
        call, check = self._read(name)
        self.rec.run("read", name, call, check,
                     raw_bytes=self.table.nbytes if name == "read_decoded"
                     else 0)
        if i < len(self.WRITES):
            name = self.WRITES[i]
            call, check, raw = self._write(name)
            self.rec.run("write", name, call, check, raw_bytes=raw)

    def finish(self) -> None:
        """Final content check: decode the mutated store and compare it
        with the model."""
        want = canonical(pa.Table.from_pandas(
            self.model, schema=self.table.schema, preserve_index=False),
            ["doc_id"])
        self.facts["live_raw_bytes"] = want.nbytes
        for _ in range(self.FINAL_DECODES):
            self.rec.run("final", "read_decoded",
                         lambda: et.read_decoded(self.spark,
                                                 self.store).toArrow(),
                         check=lambda t: canonical(t, ["doc_id"]).equals(want),
                         raw_bytes=self.facts["live_raw_bytes"])
        self.facts["store_bytes"] = dir_bytes(self.store)
        self.facts["layout"] = store_layout(self.store)

    def live_raw_bytes(self) -> int:
        return self.facts["live_raw_bytes"]

    profile_pass = None  # encode_web profiles the same encode/decode UDFs


WORKLOADS = {w.name: w for w in (EncodeWeb, StoreRW)}
