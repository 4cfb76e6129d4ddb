"""The three benchmark workloads.

Each workload drives the engine only through its public modules. A
workload has a one-time ``setup`` (counted in ``setup_s``), a measured
``run`` and output checks; every operation that raises or whose output
check fails counts as failed. ``e2e`` returns the end-to-end numbers,
``layers`` the per-layer numbers of a traced run.

Operation ("op") per workload, which ``op_p50_ms`` times: on payroll_etl
and corpus_curation one job from input files to committed output files
(corpus_curation then serves a fixed script of similarity searches and
index writes, timed per layer); on event_stream one event, from its
scheduled write time to the commit of the sink batch that emits it, in
an open loop of ``--seconds``.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import os
import re
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
    ensure_ivf_index,
    ivf_index_add,
    ivf_index_delete,
    ivf_index_load,
)
from uofi_payroll_etl_main_demo_spark.ext.clusters import connected_components
from uofi_payroll_etl_main_demo_spark.ext.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
)
from uofi_payroll_etl_main_demo_spark.ext.textstats import curation_scores
from uofi_payroll_etl_main_demo_spark.io import (
    read_csv,
    read_parquet_table,
    write_csv,
    write_parquet,
)
from uofi_payroll_etl_main_demo_spark.pipelines import (
    CPA_OUTPUT_COLUMNS,
    PUA_COL_MAP,
    cpa_pipeline,
    pua_pipeline,
)
from uofi_payroll_etl_main_demo_spark.plans import formatted_plan, inspect_plan
from uofi_payroll_etl_main_demo_spark.streaming import (
    dedup_events,
    enrich_stream,
    read_events_stream,
    write_stream_foreach_batch,
)
from uofi_payroll_etl_main_demo_spark.validate import (
    check_data_constraints,
    matches,
    not_null,
    unique,
)

from tracing import SpanStats, epoch, median


def tail(xs) -> float:
    """p90 (linear interpolation); the only sample when there is one."""
    return float(np.percentile(xs, 90)) if len(xs) else 0.0


class Workload:
    name = ""
    jobs_per_run = 1

    def __init__(self, spark, tracer, inputs: str, manifest: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.manifest = manifest
        self.work = work
        self.ops: list[tuple[str, float, bool]] = []  # (kind, seconds, ok)
        self.not_setup_s = 0.0  # measured work done inside setup()
        self.checks: list[tuple[str, bool]] = []
        self.layer: dict[str, float] = {}

    # -- bookkeeping ------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok)))
        if not ok:
            print(f"CHECK FAILED {self.name}.{name}: {detail}", file=sys.stderr)
        return bool(ok)

    def attempt(self, kind: str, fn, *args) -> bool:
        """Run and time one op; a failure is recorded, never raised."""
        t = time.perf_counter()
        try:
            fn(*args)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        self.ops.append((kind, time.perf_counter() - t, ok))
        return ok

    def fail_last(self) -> None:
        kind, secs, _ = self.ops[-1]
        self.ops[-1] = (kind, secs, False)

    def latencies(self, kind: str) -> list[float]:
        return [s for k, s, ok in self.ops if k == kind and ok]

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return sum(not ok for _, _, ok in self.ops) + sum(not ok for _, ok in self.checks)

    # -- hooks -------------------------------------------------------------
    def setup(self) -> None:
        pass

    def run(self, seconds: float) -> None:
        """Batch workloads: ``jobs_per_run`` jobs, each from input files to
        committed output files, the first paying what a fresh process
        pays. The job count is fixed, not timed, so a faster job never
        changes what is measured."""
        for i in range(self.jobs_per_run):
            out = f"{self.work}/out{i}"
            if self.attempt("job", self.job, i, out) and not self.check_output(out):
                self.fail_last()
        self.last_out = out

    def job(self, i: int, out: str) -> None:
        raise NotImplementedError

    def check_output(self, out: str) -> bool:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def e2e(self) -> dict:
        raise NotImplementedError

    def layers(self, stats: SpanStats | None) -> dict:
        return dict(self.layer)

    # -- shared tracing helpers ---------------------------------------------
    def inspect_plans(self, frames) -> None:
        """Traced runs only: force and digest the executed plans."""
        if not self.tracer.enabled:
            return
        with self.tracer.span("plans.optimize"):
            texts = [formatted_plan(df) for df in frames]
        reports = [inspect_plan(df) for df in frames]
        self.layer["plans.exchanges"] = sum(r.exchanges for r in reports)
        self.layer["plans.broadcasts"] = sum(r.broadcast_joins for r in reports)
        self.layer["plans.nodes"] = sum(
            len(re.findall(r"^\(\d+\) ", t, re.MULTILINE)) for t in texts)

    def sample_storage(self, rest) -> None:
        used, frames = rest.storage()
        if used >= self.layer.get("cache.storage_peak_bytes", 0):
            self.layer["cache.storage_peak_bytes"] = used
            self.layer["cache.persisted_frames"] = frames


def _dir_bytes_files(path: str, pattern: str = "part-*") -> tuple[int, int]:
    """(bytes, count) of the files under ``path`` matching ``pattern``;
    by default Spark's data files."""
    files = glob.glob(f"{path}/**/{pattern}", recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


# =================================================================== payroll

def _all_string_schema(path: str) -> T.StructType:
    with open(path, newline="") as f:
        header = next(csv.reader(f))
    return T.StructType([T.StructField(h, T.StringType()) for h in header])


PUA_KEY = ["UIN", "Year", "Pay ID", "Pay #", "Seq #", "Job Number"]


def pua_rules():
    return [not_null("UIN"), unique(*PUA_KEY), matches("TS-Org Code", r"^\d-\d{6}$")]


def cpa_rules():
    return [not_null("UIN"), unique("UIN", "Job Number"),
            matches("TS-Org Code", r"^\d-\d{6}$")]


PAYROLL_FILES = ["pua", "cpa_cert_bw", "cpa_cert_mn", "ts_org", "ts_dept",
                 "overtime_eclass", "te_m"]


class PayrollEtl(Workload):
    """Reference dataflow: CSV ingest -> PUA + CPA pipelines -> data
    constraints -> parquet (PUA) and CSV (CPA) sinks."""

    name = "payroll_etl"

    def setup(self) -> None:
        self.rules_failed: list[int] = []
        self.recall = 0.0

    def job(self, i: int, out: str) -> None:
        tr, spark, m = self.tracer, self.spark, self.manifest
        with tr.span("op", op=i):
            with tr.span("io.read"):
                f = {}
                for name in PAYROLL_FILES:
                    path = f"{self.inputs}/{name}.csv"
                    f[name] = read_csv(spark, path, schema=_all_string_schema(path))
            with tr.span("pipelines.build"):
                dims = (f["ts_org"], f["ts_dept"], f["overtime_eclass"], f["te_m"])
                pua = pua_pipeline(f["pua"], *dims)
                cpa = cpa_pipeline(f["cpa_cert_bw"], f["cpa_cert_mn"], *dims,
                                   fiscal_year_end=m["fiscal_year_end"])
            self.inspect_plans([pua, cpa])
            with tr.span("validate.check"):
                report = (check_data_constraints(pua, pua_rules()).collect()
                          + check_data_constraints(cpa, cpa_rules()).collect())
            with tr.span("io.write"):
                write_parquet(pua, f"{out}/pua")
                write_csv(cpa, f"{out}/cpa")
        self.rules_failed.append(sum(not r["passed"] for r in report))

    def check_output(self, out: str) -> bool:
        m = self.manifest
        pua = pq.read_table(f"{out}/pua").to_pydict()
        cols = list(pua)
        ok = self.check("pua_header", cols == [c for c, _ in PUA_COL_MAP], str(cols))
        n = len(pua["UIN"])
        ok &= self.check("pua_rows", n == m["pua_distinct_keys"], f"{n}")
        keys = set(zip(*(pua[c] for c in PUA_KEY)))
        ok &= self.check("pua_unique_keys", len(keys) == n, f"{len(keys)} of {n}")
        self.recall = min(len(keys), m["pua_distinct_keys"]) / m["pua_distinct_keys"]
        ints = sum(v == "INT" for v in pua["Adjustment Reason Code"])
        ok &= self.check("pua_reason_code_fill", ints == m["pua_missing_reason_code"], f"{ints}")
        internal = sum(v == "Internal" for v in pua["Adjustment Reason Description"])
        ok &= self.check("pua_reason_desc_fill", internal == m["pua_missing_reason_desc"],
                         f"{internal}")
        bad = sum(v is None for v in pua["Calc Date"])
        ok &= self.check("pua_bad_dates", bad == m["pua_bad_dates"], f"{bad}")
        dot0 = sum(str(v).endswith(".0") for c in ("Job Number", "Dept Code") for v in pua[c])
        ok &= self.check("pua_dot0_stripped", dot0 == 0, f"{dot0}")
        rows = 0
        for part in sorted(glob.glob(f"{out}/cpa/part-*.csv")):
            with open(part, newline="") as fh:
                r = csv.reader(fh)
                header = next(r, None)
                if header is None:
                    continue
                ok &= self.check("cpa_header", header == CPA_OUTPUT_COLUMNS, str(header))
                rows += sum(1 for _ in r)
        ok &= self.check("cpa_rows", rows == m["cpa_distinct_keys"], f"{rows}")
        return ok

    def e2e(self) -> dict:
        jobs = self.latencies("job")
        rows = self.manifest["pua_rows"] + self.manifest["cpa_rows"]
        return {
            "op_p50_ms": 1000 * median(jobs),
            "op_tail_ms": 1000 * tail(jobs),
            "items_per_s": rows * len(jobs) / sum(jobs) if jobs else 0.0,
            "output_recall": self.recall,
        }

    def layers(self, stats) -> dict:
        out = dict(self.layer)
        out["validate.rules_failed"] = max(self.rules_failed, default=0)
        out["io.output_bytes"], out["io.output_files"] = _dir_bytes_files(self.last_out)
        return out


# ==================================================================== corpus

class CorpusCuration(Workload):
    """Quality filter -> exact dedup -> MinHash near-dup pairs ->
    connected components -> drop all but each cluster's min id, as two
    jobs; then similarity search over the corpus's embeddings: a closed
    loop, one client, no think time, over a persisted IVF store built
    (and first searched) in set-up, of a fixed script of single searches
    with a batch search, an add and a delete between them."""

    name = "corpus_curation"
    K, NPROBE = 10, 2
    # a cold and a warm job: one job alone is too short to time steadily
    jobs_per_run = 2

    def setup(self) -> None:
        m = self.manifest
        self.survivor_sums: list[str] = []
        self.n_pairs: list[int] = []
        self.dedup_recalls: list[float] = []
        self.index_dir = f"{self.work}/ivf"
        emb = self.spark.read.parquet(f"{self.inputs}/embeddings.parquet")
        with self.tracer.span("ext.ann_index.build"):
            t = time.perf_counter()
            self.index = ensure_ivf_index(emb, self.index_dir, corpus_tag="base",
                                          n_centroids=m["clusters"],
                                          max_iter=m["kmeans_iters"])
            self.layer["ext.ann_index.build_ms"] = 1000 * (time.perf_counter() - t)
        base = pq.read_table(f"{self.inputs}/embeddings.parquet").to_pydict()
        self.store = dict(zip(base["vec_id"], map(np.asarray, base["embedding"])))
        self.queries = np.load(f"{self.inputs}/queries.npy")
        self.adds = np.load(f"{self.inputs}/adds.npy")
        self.rng = np.random.default_rng(m["op_seed"])
        self.deleted: set[int] = set()
        self.next_id = m["next_vec_id"]
        self.ann_recalls: list[float] = []
        self.batch_q: list[tuple[int, float]] = []
        self.n_add = self.n_del = 0
        # the store is ready once it has served: the first searches of a
        # process pay one-time plan and Python-worker start-up
        for q in self.queries[-m["warmup_searches"]:]:
            self.index.search(q.tolist(), k=self.K, nprobe=self.NPROBE).collect()

    # -- the curation job ------------------------------------------------
    def job(self, i: int, out: str):
        tr, spark = self.tracer, self.spark
        floor = self.manifest["quality_floor"]
        with tr.span("op", op=i):
            with tr.span("io.read"):
                docs = read_parquet_table(spark, self.inputs, "documents")
            with tr.span("ext.textstats.curation"):
                good = curation_scores(docs).filter(
                    (F.col("quality") >= floor) & (F.col("predicted_lang") == "en")
                ).select("doc_id")
                kept = docs.join(good, "doc_id", "left_semi")
            with tr.span("ext.dedup.exact"):
                uniq = exact_dedup(kept)
            with tr.span("ext.dedup.minhash"):
                # materialised here, so MinHash time lands in this span and
                # the clustering and the sink read the cached pairs
                pairs = minhash_near_dup_pairs(uniq).select("id_a", "id_b").persist()
                self.n_pairs.append(pairs.count())
            with tr.span("ext.clusters.cc"):
                comp = connected_components(pairs)
                losers = comp.filter(F.col("id") != F.col("comp")).select(
                    F.col("id").alias("doc_id"))
                survivors = uniq.join(losers, "doc_id", "left_anti")
            with tr.span("io.write"):
                write_parquet(survivors, out)
            pairs.unpersist()
        self.kept, self.uniq = kept, uniq

    def check_output(self, out: str) -> bool:
        m = self.manifest
        ids = pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist()
        got = set(ids)
        ok = self.check("no_duplicate_rows", len(got) == len(ids))
        exact_left = len(got & set(m["exact_dup_ids"]))
        ok &= self.check("exact_dups_removed", exact_left == 0, f"{exact_left} left")
        pairs = m["near_dup_pairs"]
        recall = sum(b not in got for _, b in pairs) / len(pairs)
        self.dedup_recalls.append(recall)
        ok &= self.check("near_dup_recall", recall >= m["near_dup_recall_floor"],
                         f"{recall:.3f}")
        lost = len(set(m["orig_ids"]) - got)
        ok &= self.check("originals_kept", lost == 0, f"{lost} originals dropped")
        self.survivor_sums.append(hashlib.sha256(
            ",".join(map(str, sorted(got))).encode()).hexdigest())
        return ok

    def run(self, seconds: float) -> None:
        super().run(seconds)
        # the survivor set must repeat across the jobs of a run and across
        # runs of one seed: the first run of a seed stores its checksum,
        # every later run compares
        self.check("survivors_repeat_within_run", len(set(self.survivor_sums)) == 1,
                   str(self.survivor_sums))
        if self.survivor_sums:
            path = f"{self.inputs}/survivors.sha256"
            if os.path.exists(path):
                with open(path) as f:
                    self.check("survivors_repeat_across_runs",
                               f.read() == self.survivor_sums[0])
            else:
                with open(path, "w") as f:
                    f.write(self.survivor_sums[0])
        self.serve()

    # -- similarity search -------------------------------------------------
    def exact_top(self, q: np.ndarray, k: int) -> list[int]:
        ids = np.fromiter(self.store, dtype=np.int64, count=len(self.store))
        mat = np.stack([self.store[i] for i in ids])
        scores = mat @ q / np.linalg.norm(mat, axis=1) / np.linalg.norm(q)
        order = np.lexsort((ids, -scores))[:k]
        return ids[order].tolist()

    def search(self, qi: int) -> None:
        q = self.queries[qi % len(self.queries)]
        with self.tracer.span("ext.ann_index.search"):
            rows = self.index.search(q.tolist(), k=self.K, nprobe=self.NPROBE).collect()
        got = [r[0] for r in rows]
        back = self.deleted.intersection(got)
        if not self.check("deleted_never_served", not back, str(back)):
            raise AssertionError("deleted id served")
        self.ann_recalls.append(len(set(got) & set(self.exact_top(q, self.K))) / self.K)

    def batch(self, qi: int) -> None:
        b = self.manifest["batch_queries"]
        idx = [(qi + j) % len(self.queries) for j in range(b)]
        with self.tracer.span("ext.ann_index.search_batch"):
            t = time.perf_counter()
            qdf = self.spark.createDataFrame(
                [(j, self.queries[i].tolist()) for j, i in enumerate(idx)],
                "query_id long, qvec array<double>")
            rows = self.index.search_batch(qdf, k=self.K, nprobe=self.NPROBE).collect()
            self.batch_q.append((b, time.perf_counter() - t))
        back = self.deleted.intersection(r["vec_id"] for r in rows)
        if not self.check("deleted_never_served", not back, str(back)):
            raise AssertionError("deleted id served")

    def add(self) -> None:
        m = self.manifest
        n, a = m["add_size"], self.n_add % m["add_batches"]
        vecs = self.adds[a * n:(a + 1) * n]
        ids = list(range(self.next_id, self.next_id + n))
        df = self.spark.createDataFrame(
            [(i, v.tolist()) for i, v in zip(ids, vecs)], "vec_id long, embedding array<double>")
        with self.tracer.span("ext.ann_index.add"):
            ivf_index_add(df, self.index_dir, new_corpus_tag=f"add{self.n_add}",
                          batch_id=f"b{self.n_add}")
        self.next_id += n
        self.n_add += 1
        self.store.update(zip(ids, vecs))

    def delete(self) -> None:
        live = np.fromiter(self.store, dtype=np.int64, count=len(self.store))
        dead = sorted(int(i) for i in self.rng.choice(live, self.manifest["delete_size"],
                                                      replace=False))
        with self.tracer.span("ext.ann_index.delete"):
            ivf_index_delete(self.spark, self.index_dir, dead, new_corpus_tag=f"del{self.n_del}")
        self.n_del += 1
        for i in dead:
            del self.store[i]
        self.deleted.update(dead)

    def after_write(self) -> None:
        """Reload the handle, then a full-probe search of a sampled query
        must equal brute force over the store's current contents."""
        with self.tracer.span("ext.ann_index.load"):
            self.index = ivf_index_load(self.spark, self.index_dir)
        q = self.queries[self.rng.integers(len(self.queries))]
        rows = self.index.search(q.tolist(), k=self.K,
                                 nprobe=self.manifest["clusters"]).collect()
        got, want = [r[0] for r in rows], self.exact_top(q, self.K)
        self.check("full_probe_equals_brute_force", got == want, f"{got} vs {want}")

    def serve(self) -> None:
        """The op script is fixed, so every run serves the same requests
        against the same store states."""
        qi = 0
        for kind in self.manifest["ops"]:
            if kind == "search":
                self.attempt("search", self.search, qi)
                qi += 1
            elif kind == "batch":
                self.attempt("batch", self.batch, qi)
                qi += self.manifest["batch_queries"]
            else:
                self.attempt(kind, self.add if kind == "add" else self.delete)
                self.after_write()

    def e2e(self) -> dict:
        jobs = self.latencies("job")
        return {
            "op_p50_ms": 1000 * median(jobs),
            "op_tail_ms": 1000 * tail(jobs),
            "items_per_s": self.manifest["docs"] / median(jobs) if jobs else 0.0,
            "output_recall": min(median(self.dedup_recalls),
                                 float(np.mean(self.ann_recalls)) if self.ann_recalls else 0.0),
        }

    def layers(self, stats) -> dict:
        out = dict(self.layer)
        if self.tracer.enabled:
            # counts the job itself does not need: taken after the run
            n_kept = self.kept.count()
            cand = minhash_near_dup_pairs(self.uniq, verify=False).count()
            out["ext.textstats.kept_frac"] = n_kept / self.manifest["docs"]
            out["ext.dedup.candidate_pairs"] = cand
            out["ext.dedup.verified_pairs"] = median(self.n_pairs)
            out["ext.dedup.pair_precision"] = median(self.n_pairs) / cand if cand else 0.0
        out["io.output_bytes"], out["io.output_files"] = _dir_bytes_files(self.last_out)
        nq, secs = sum(n for n, _ in self.batch_q), sum(s for _, s in self.batch_q)
        out["ext.ann_index.batch_qps"] = nq / secs if secs else 0.0
        out["ext.ann_index.recall_at_10"] = float(np.mean(self.ann_recalls or [0.0]))
        out["ext.ann_index.store_files"] = _dir_bytes_files(self.index_dir, "*.parquet")[1]
        if stats is not None:
            searches = [s for s in stats.spans if s.name == "ext.ann_index.search"]
            scanned = sum(stats.stage_sum(s.sid, "inputRecords") for s in searches)
            out["ext.ann_index.rows_scanned_per_result"] = (
                scanned / (self.K * len(searches)) if searches else 0.0)
        return out


# ==================================================================== stream

def read_sink(sink: str, columns: list[str]):
    """(batch id, columns) per ``__batch_id=<n>`` partition of a
    foreachBatch sink."""
    for d in sorted(glob.glob(f"{sink}/__batch_id=*")):
        b = int(d.rsplit("=", 1)[1])
        for f in sorted(glob.glob(f"{d}/*.parquet")):
            yield b, pq.read_table(f, columns=columns).to_pydict()


class EventStream(Workload):
    """An availableNow drain of a fixed backlog, then an open-loop file
    generator -> read_events_stream -> dedup_events -> enrich_stream ->
    write_stream_foreach_batch."""

    name = "event_stream"

    def pipeline(self, src_dir: str, sink: str, ckpt: str, available_now: bool,
                 max_files: int | None = None):
        users = self.spark.read.parquet(f"{self.inputs}/users.parquet")
        events = read_events_stream(self.spark, src_dir, max_files_per_trigger=max_files)
        out = enrich_stream(dedup_events(events), users, {"user_id": "user_id"}, ["segment"])
        return write_stream_foreach_batch(out, sink, ckpt, available_now=available_now)

    def setup(self) -> None:
        # keep every batch's progress, not the last 100, for the wait
        # below and the per-batch metrics
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        # The drain runs first: it is measured work of its own, and it
        # brings the pipeline's code paths up before the live query
        # starts, so the open loop sees steady micro-batches.
        self.drain()
        self.not_setup_s = self.drain_s
        self.watch = f"{self.work}/watch"
        self.sink, self.ckpt = f"{self.work}/sink", f"{self.work}/ckpt"
        os.makedirs(self.watch)
        self.live = sorted(glob.glob(f"{self.inputs}/live/*.parquet"))
        # ready = the first file's batch committed
        os.link(self.live[0], f"{self.watch}/{os.path.basename(self.live[0])}")
        with self.tracer.span("streaming.start"):
            self.query = self.pipeline(self.watch, self.sink, self.ckpt, False)
            while not os.path.exists(f"{self.ckpt}/commits/0"):
                if self.query.exception() is not None:
                    raise RuntimeError(str(self.query.exception()))
                time.sleep(0.005)
        self.file_rows = [pq.ParquetFile(p).metadata.num_rows for p in self.live]

    def writer(self, interval: float, n_files: int) -> None:
        """Open loop: file f is due at t0 + (f-1)*interval, whatever the
        stream is doing."""
        t0 = time.time()
        for f in range(1, n_files):
            due = t0 + (f - 1) * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            src = self.live[f]
            os.link(src, f"{self.watch}/{os.path.basename(src)}")
            self.written.append((f, due, time.time()))

    def run(self, seconds: float) -> None:
        # the rate is fixed; the open loop's length sets the file count
        m = self.manifest
        n_files = min(m["live_files"], 2 + int(seconds / m["file_interval_s"]))
        self.n_files = n_files
        self.written: list[tuple[int, float, float]] = []
        with self.tracer.span("streaming.open_loop"):
            w = threading.Thread(target=self.writer, args=(m["file_interval_s"], n_files))
            w.start()
            w.join()
            want_rows = sum(self.file_rows[:n_files])
            limit = time.time() + 60
            while self.query.exception() is None and time.time() < limit:
                done = sum(p["numInputRows"] for p in self.query.recentProgress)
                if done >= want_rows:
                    break
                time.sleep(0.02)
            self.progress = list(self.query.recentProgress)
            self.query.stop()
        self.check("live_query_healthy", self.query.exception() is None,
                   str(self.query.exception()))
        self.record_latencies()
        self.check_sinks({
            "live": (self.sink, [self.live[f] for f in range(n_files)]),
            "drain": (self.drain_sink, sorted(glob.glob(f"{self.inputs}/backlog/*.parquet"))),
        })

    def record_latencies(self) -> None:
        """Each event's latency: commit time of the sink batch that emitted
        it minus the time its file was due."""
        m = self.manifest
        due = {f: d for f, d, _ in self.written}
        commit = {int(os.path.basename(p)): os.stat(p).st_mtime
                  for p in glob.glob(f"{self.ckpt}/commits/[0-9]*")}
        for b, t in read_sink(self.sink, ["event_id"]):
            for eid in t["event_id"]:
                f = eid // m["events_per_file"]
                if f in due and b in commit:
                    self.ops.append(("event", commit[b] - due[f], True))
        lags = [actual - d for _, d, actual in self.written]
        self.layer["streaming.generator_lag_ms"] = 1000 * max(lags, default=0.0)

    def check_sinks(self, phases: dict[str, tuple[str, list[str]]]) -> None:
        """Per phase (sink, source files): the sink's event ids equal
        those of the batch twin ``dedup_events`` over the same files,
        with no duplicate, and every row carries its user's segment. The
        twins of all phases run as one Spark job."""
        twins = None
        for label, (_, files) in phases.items():
            twin = dedup_events(self.spark.read.parquet(*files)).select(
                F.lit(label).alias("phase"), "event_id")
            twins = twin if twins is None else twins.unionByName(twin)
        want: dict[str, set] = {label: set() for label in phases}
        for r in twins.collect():
            want[r[0]].add(r[1])
        for label, (sink, _) in phases.items():
            got = {"event_id": [], "segment": [], "user_id": []}
            for _, t in read_sink(sink, list(got)):
                for k in got:
                    got[k] += t[k]
            ids = got["event_id"]
            self.check(f"{label}_exactly_once", len(ids) == len(set(ids)),
                       f"{len(ids) - len(set(ids))} duplicates")
            self.check(f"{label}_equals_batch_twin", set(ids) == want[label],
                       f"{len(set(ids) ^ want[label])} ids differ")
            seg_ok = all(s == f"seg{u % 5}" for s, u in zip(got["segment"], got["user_id"]))
            self.check(f"{label}_enriched", seg_ok)

    def drain(self) -> None:
        m = self.manifest
        backlog = f"{self.inputs}/backlog"
        self.drain_sink, ckpt = f"{self.work}/drain_sink", f"{self.work}/drain_ckpt"
        with self.tracer.span("streaming.drain"):
            t = time.perf_counter()
            q = self.pipeline(backlog, self.drain_sink, ckpt, True,
                              max_files=m["drain_files_per_batch"])
            q.awaitTermination(120)
            self.drain_s = time.perf_counter() - t
        ok = self.check("drain_query_healthy", q.exception() is None and not q.isActive,
                        str(q.exception()))
        self.drain_progress = list(q.recentProgress)
        if q.isActive:
            q.stop()
        self.ops.append(("drain", self.drain_s, ok))
        self.drain_rows = m["backlog_rows"]

    def close(self) -> None:
        for q in self.spark.streams.active:
            q.stop()

    def e2e(self) -> dict:
        events = self.latencies("event")
        return {
            "op_p50_ms": 1000 * median(events),
            "op_tail_ms": 1000 * tail(events),
            "items_per_s": self.drain_rows / self.drain_s,
            "output_recall": self.delivered_share(),
        }

    def delivered_share(self) -> float:
        # the warm-up file's events were written before the clock started
        want = (self.n_files - 1) * self.manifest["events_per_file"]
        return min(len(self.latencies("event")), want) / want

    def layers(self, stats) -> dict:
        out = dict(self.layer)
        live = [p for p in self.progress if p["numInputRows"]]
        dur = lambda k: median(p["durationMs"].get(k, 0) for p in live)  # noqa: E731
        out["streaming.trigger_ms"] = dur("triggerExecution")
        out["streaming.add_batch_ms"] = dur("addBatch")
        out["streaming.wal_commit_ms"] = dur("walCommit")
        out["streaming.rows_per_batch"] = median(p["numInputRows"] for p in live)
        out["streaming.processed_rows_per_s"] = median(
            p.get("processedRowsPerSecond", 0) for p in self.drain_progress
            if p["numInputRows"])
        if live:
            st = live[-1].get("stateOperators") or [{}]
            out["streaming.state_rows"] = sum(s.get("numRowsTotal", 0) for s in st)
            out["streaming.state_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in st)
        out["streaming.backlog_files"] = self.backlog_files(live)
        return out

    def backlog_files(self, live) -> float:
        """Median over batches of files written but not yet consumed when
        the batch's trigger started."""
        cum = np.cumsum([0] + self.file_rows)
        consumed, backlog = self.file_rows[0], []
        for p in live:
            start = epoch(p["timestamp"])
            written = 1 + sum(1 for _, _, a in self.written if a <= start)
            done = int(np.searchsorted(cum, consumed, side="right")) - 1
            backlog.append(max(0, written - done))
            consumed += p["numInputRows"]
        return median(backlog)


WORKLOADS = {w.name: w for w in (PayrollEtl, CorpusCuration, EventStream)}
