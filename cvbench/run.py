"""Benchmark of the clinical_vector_search_spark package, one workload per run.

    python3 cvbench/run.py --workload query_modes --seed 1 --seconds 24 --trace 0

Workloads (each a closed loop with one client thread on ``local[4]``):

* ``query_modes``: the paper's evaluation loop. ``baseline_mode``,
  ``dp_mode``, ``rag_mode``, ``fhe_mode`` and ``evaluate_modes`` at one
  (k, n_queries) shape. After the first pass every mode call except fhe
  re-executes a prepared plan from the package's plan cache; nothing is
  written. Chosen because it is what a user of the paper's modes runs, and
  it exercises plan re-execution and the per-job scheduling floor.
* ``ingest_maintain``: writes beside reads. The first pass folds a base
  batch into the near-dup, BM25 and IVF-PQ indexes. Each timed round folds
  one new batch into all three, serves one BM25 and one IVF-PQ query set
  from the read-back indexes, and compacts one index directory (the six in
  turn). Chosen because ``io.tables`` and the maintained-index operators
  dominate it, it bypasses the plan cache, and read cost, write cost and
  space trade against each other there.

Set-up is everything before the timed phase: session and JVM start, input
generation, corpus load, the ingest workload's trained state, and the first
pass, one cold call of each request type (plan build, codegen, Python
worker start; for ``ingest_maintain`` the base batch fold). Its time is
``setup_s``; the first pass alone is recorded beside it and, per request
type, in the per-layer ``<type>.cold_ms``.

A request is one call into one public function of the package plus the
execution of the DataFrame it returns. Latencies are kept per request type
and summarised per type, because the types differ by ~40x in latency.

The timed phase is a fixed number of rounds, set by ``--seconds`` and a
nominal round length per workload, never by the clock. So every run makes
the same requests in the same order and sees the same sequence of states
(index files, persistent RDDs) however fast the code is.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` enables the Spark event
log and reports the per-layer metrics. Every file a run writes lives under
``cvbench/out``; the run's scratch directory is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import hashlib
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
PACKAGE = "clinical_vector_search_spark"
WORKLOADS = ("query_modes", "ingest_maintain")
CORES = 4
# Nominal wall seconds of one timed round on a quiet 4-vCPU host: the
# timed phase runs round(seconds / ROUND_SECONDS) rounds.
ROUND_SECONDS = {"query_modes": 3.3, "ingest_maintain": 8.0}

# Request types of each workload.
MODE_TYPES = ("modes.baseline", "modes.dp", "modes.rag", "modes.fhe", "evaluate")
INGEST_TYPES = (
    "dedup.add", "bm25.add", "pq.add", "bm25.serve", "pq.serve", "tables.compact",
)
REQUEST_TYPES = MODE_TYPES + INGEST_TYPES
# Child spans inside a request, timed separately in the per-layer report.
CHILD_SPANS = (
    *(f"modes.{m}.{p}" for m in ("baseline", "dp", "rag", "fhe") for p in ("call", "exec")),
    "evaluate.call", "evaluate.exec", "bm25.read", "pq.read",
)
TRACE_STATS = ("jobs", "tasks", "executor_run_ms", "shuffle_bytes", "driver_gap_ms")


# ------------------------------------------------------------ host state

def cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies across all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def cpu_probe_ms() -> float:
    """Median wall time of a fixed pure-Python loop: a host-speed reading
    kept with each result, so a run on a slowed host can be told apart."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def host_state() -> dict:
    return {"loadavg": os.getloadavg(), "stat": cpu_stat(), "probe_ms": cpu_probe_ms()}


def steal_pct(a: dict, b: dict) -> float:
    ds, dt = b["stat"][0] - a["stat"][0], b["stat"][1] - a["stat"][1]
    return 100.0 * ds / dt if dt else 0.0


# --------------------------------------------------------------- helpers

def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def configure_env(run_dir: str) -> None:
    """Point every writer at the run directory and make the package
    importable by this process and by Spark's Python workers."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    sys.path.insert(0, ROOT)


def code_hash() -> str:
    """Hash of the package's and the benchmark's Python sources: results
    are compared only between runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for root, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d not in ("out", "__pycache__"))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------- benchmark

class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, run_dir: str):
        import datagen
        from tracing import Spans

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.rounds = max(1, round(seconds / ROUND_SECONDS[workload]))
        if workload == "ingest_maintain":
            self.rounds = min(self.rounds, datagen.MAX_INGEST_ROUNDS)
        self.run_dir = run_dir
        self.dg = datagen
        self.spans = Spans()
        self.spark = None
        self.phase = "setup"
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {}      # timed latencies (s) per type
        self.rdd_delta: dict[str, list[float]] = {}
        self.mb_delta: dict[str, list[float]] = {}
        self.plans: dict[tuple, object] = {}
        self.last_rows: dict[str, list] = {}
        self.plan_hits = self.plan_calls = 0
        self.index_files: list[int] = []
        self.bytes_written = 0
        self.docs_ingested = 0

    # -- session -------------------------------------------------------

    def start_session(self) -> None:
        from clinical_vector_search_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.spans.span("session.get_spark"):
            self.spark = get_spark(
                app_name="cvbench", master=f"local[{CORES}]",
                shuffle_partitions=CORES, extra_conf=conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.spans.sc = self.sc if self.traced else None

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def settled_persistent_rdds(self) -> int:
        """Persistent RDDs still reachable: collect garbage on both sides
        of the gateway and wait for Spark's cleaner to settle."""
        import gc

        gc.collect()
        self.sc._jvm.System.gc()
        last, stable = -1, 0
        for _ in range(100):
            n = self.persistent_rdds()
            stable = stable + 1 if n == last else 0
            if stable >= 3:
                break
            last = n
            time.sleep(0.1)
        return n

    def stop(self) -> None:
        """Stop the session, then the JVM (its Python workers end with it),
        and wait until the JVM has exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a JVM that hangs is killed
                proc.kill()
                proc.wait()

    # -- requests and checks --------------------------------------------

    def request(self, kind: str, fn):
        """One request: ``fn`` runs inside a span named ``kind``. A raised
        exception counts as a failed operation."""
        self.attempted += 1
        before = (self.persistent_rdds(), self.cached_mb()) if self.traced else None
        try:
            with self.spans.span(kind) as rec:
                rec["phase"] = self.phase
                out = fn()
        except Exception:  # noqa: BLE001 - the loop keeps running; counted
            traceback.print_exc()
            self.failed += 1
            return None
        if self.phase == "timed":
            self.lat.setdefault(kind, []).append(rec["dur"])
            if before is not None:
                self.rdd_delta.setdefault(kind, []).append(self.persistent_rdds() - before[0])
                self.mb_delta.setdefault(kind, []).append(self.cached_mb() - before[1])
        return out

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def check_ranked(self, what: str, rows, n_queries: int, k: int) -> None:
        """k ranked rows (ranks 1..k, distinct docs) for each of n queries."""
        per: dict = {}
        for r in rows:
            per.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
        ok = len(per) == n_queries and all(
            sorted(x[0] for x in v) == list(range(1, k + 1))
            and len({x[1] for x in v}) == k
            for v in per.values()
        )
        self.check(what, ok)

    # -- setup -----------------------------------------------------------

    def setup(self) -> None:
        """Session start (and the JVM with it), input generation, corpus
        load and the ingest workload's trained state."""
        from clinical_vector_search_spark.pipeline.modes import load_corpus

        self.start_session()
        self.sf = os.path.join(self.run_dir, "sf")
        self.corpus = self.dg.make_corpus(self.seed)
        self.dg.write_corpus(self.corpus, self.sf)
        self.docs, self.vecs = load_corpus(self.spark, self.sf)
        self.vecs.count()
        if self.workload == "ingest_maintain":
            self.prepare_ingest()

    # -- query_modes -----------------------------------------------------

    def mode_request(self, mode: str, k: int, nq: int):
        from clinical_vector_search_spark.pipeline import modes

        fn = getattr(modes, f"{mode}_mode")

        def run():
            with self.spans.span(f"modes.{mode}.call"):
                df = fn(self.spark, self.sf, k, nq)
            with self.spans.span(f"modes.{mode}.exec"):
                rows = df.collect()
            return df, rows

        out = self.request(f"modes.{mode}", run)
        if out is None:
            return None
        df, rows = out
        if self.phase == "timed":
            self.plan_calls += 1
            self.plan_hits += self.plans.get((mode, k, nq)) is df
        self.plans[(mode, k, nq)] = df
        self.last_rows[mode] = rows
        self.check_ranked(f"{mode} k={k} n={nq}", rows, nq, k)
        if mode == "baseline":
            top = [r for r in rows if r["rank"] == 1]
            self.check(
                "baseline top-1 is the query with score 1",
                all(r["doc_id"] == r["query_id"] and abs(r["score"] - 1.0) < 1e-5 for r in top),
            )
        return rows

    def evaluate_request(self, k: int, nq: int) -> None:
        from clinical_vector_search_spark.pipeline.evaluate import evaluate_modes

        base, others, lat = self.eval_inputs

        def run():
            with self.spans.span("evaluate.call"):
                df = evaluate_modes(self.spark, base, others, lat, k, nq)
            with self.spans.span("evaluate.exec"):
                return df.collect()

        rows = self.request("evaluate", run)
        if rows is None:
            return
        self.check(
            f"evaluate k={k} n={nq}",
            len(rows) == nq and all(
                r[f"recall_{m}"] is not None and 0.0 <= r[f"recall_{m}"] <= 1.0
                for r in rows for m in others
            ),
        )

    def first_pass_modes(self) -> None:
        """One cold call of each type. evaluate_modes scores the first
        pass's mode results against its baseline, as the paper's loop does."""
        k, nq = self.dg.MODE_SHAPE
        schema = "query_id long, rank int, doc_id long"
        res = {}
        for mode in ("baseline", "dp", "rag", "fhe"):
            t0 = time.perf_counter()
            rows = self.mode_request(mode, k, nq)
            res[mode] = (rows or [], (time.perf_counter() - t0) * 1e3)
        frames = {
            m: self.spark.createDataFrame(
                [(r["query_id"], r["rank"], r["doc_id"]) for r in rows], schema
            )
            for m, (rows, _) in res.items()
        }
        lat = {m: ms for m, (_, ms) in res.items() if m != "baseline"}
        others = {m: frames[m] for m in ("dp", "rag", "fhe")}
        self.eval_inputs = (frames["baseline"], others, lat)
        self.evaluate_request(k, nq)

    def timed_modes(self) -> None:
        k, nq = self.dg.MODE_SHAPE
        for kind in self.dg.modes_sequence(self.seed, self.rounds):
            if kind == "evaluate":
                self.evaluate_request(k, nq)
            else:
                self.mode_request(kind, k, nq)

    def check_modes(self) -> None:
        """The baseline ranking must equal a NumPy exact top-k."""
        import numpy as np

        k, nq = self.dg.MODE_SHAPE
        emb = self.corpus["embedding"].astype("float64")
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        rows = sorted(self.last_rows["baseline"], key=lambda r: r["rank"])
        ok = True
        for q in range(nq):
            scores = emb @ emb[q]
            want = np.lexsort((np.arange(len(scores)), -scores))[:k].tolist()
            have = [r["doc_id"] for r in rows if r["query_id"] == q]
            # equal, up to docs whose scores tie
            ok &= len(have) == k and all(
                a == b or abs(scores[a] - scores[b]) < 1e-9 for a, b in zip(want, have)
            )
        self.check("baseline == NumPy exact top-k", ok)

    # -- ingest_maintain -------------------------------------------------

    def prepare_ingest(self) -> None:
        """Trained IVF-PQ state (fixed codebooks, seeded unit-norm coarse
        centroids), the batches and the served query sets."""
        import numpy as np

        from clinical_vector_search_spark.operators.pq import pq_codebooks_lcg

        self.books = pq_codebooks_lcg(self.dg.DIM, 8, 16)
        rng = np.random.default_rng([self.seed, 7])
        cents = rng.standard_normal((16, self.dg.DIM))
        self.centroids = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).tolist()
        self.batches = self.dg.ingest_batches(self.seed, self.rounds)
        self.ix = os.path.join(self.run_dir, "index")
        q = self.dg.ingest_queries(self.seed, self.corpus)
        self.bm25_queries = list(enumerate(q["terms"]))
        self.pq_queries = [(i, v) for i, v in enumerate(q["query_vec"])]
        text_bytes = sum(len(t.encode()) for t in self.corpus["text"])
        n = len(self.corpus["doc_id"])
        self.input_bytes_per_doc = (text_bytes + n * (8 + 4 * self.dg.DIM)) / n

    def batch_frames(self, ids):
        from pyspark.sql import functions as F

        sel = [int(x) for x in ids]
        docs = self.docs.filter(F.col("doc_id").isin(sel)).select("doc_id", "text")
        vecs = self.vecs.filter(F.col("doc_id").isin(sel)).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        return docs, vecs

    def fold(self, ids, batch_id: int) -> None:
        """Fold one batch into the near-dup, BM25 and IVF-PQ indexes; each
        add is its own request."""
        from clinical_vector_search_spark.operators.bm25 import bm25_index_add
        from clinical_vector_search_spark.operators.dedup import ingest_neardup_batch
        from clinical_vector_search_spark.operators.pq import ivfpq_index_add

        docs, vecs = self.batch_frames(ids)
        ix = self.ix
        adds = (
            ("dedup.add", lambda: ingest_neardup_batch(
                self.spark, docs, batch_id, f"{ix}/nd_index", f"{ix}/nd_pairs")),
            ("bm25.add", lambda: bm25_index_add(self.spark, docs, batch_id, f"{ix}/bm25")),
            ("pq.add", lambda: ivfpq_index_add(
                self.spark, vecs, batch_id, f"{ix}/pq", self.dg.DIM, self.books,
                centroids=self.centroids, encoder="pd")),
        )
        for kind, fn in adds:
            before = dir_bytes(ix)
            self.request(kind, fn)
            self.bytes_written += max(0, dir_bytes(ix) - before)
        self.docs_ingested += len(ids)

    def serve(self) -> tuple[list, list]:
        """One BM25 query set and one IVF-PQ query set from the read-back
        indexes; returns both answers."""
        from clinical_vector_search_spark.operators.bm25 import bm25_read_index, bm25_topk_set
        from clinical_vector_search_spark.operators.pq import knn_ivfpq_serve

        if self.phase == "timed":
            self.index_files.append(sum(
                visible_files(f"{self.ix}/{d}")
                for d in ("bm25/postings", "bm25/df", "bm25/scalars", "pq")
            ))

        def bm25():
            with self.spans.span("bm25.read"):
                idx = bm25_read_index(self.spark, f"{self.ix}/bm25")
            return bm25_topk_set(idx, self.bm25_queries, 10).collect()

        def pq():
            q = self.spark.createDataFrame(self.pq_queries, "query_id long, query_vec array<double>")
            with self.spans.span("pq.read"):
                df = knn_ivfpq_serve(self.spark, f"{self.ix}/pq", q, 10, doc_id="vec_id")
            return df.collect()

        b = self.request("bm25.serve", bm25) or []
        p = self.request("pq.serve", pq) or []
        self.check("pq serve k rows per query", len(p) == 10 * len(self.pq_queries))
        self.check(
            "bm25 serve ranks",
            len(b) > 0 and all(1 <= r["rank"] <= 10 for r in b),
        )
        return (
            sorted((r["query_id"], r["rank"], r["doc_id"]) for r in b),
            sorted((r["query_id"], r["rank"], r["vec_id"]) for r in p),
        )

    def compact(self, d: str) -> None:
        from clinical_vector_search_spark.io.tables import compact_batched

        self.request("tables.compact", lambda: compact_batched(self.spark, f"{self.ix}/{d}"))

    def first_pass_ingest(self) -> None:
        """One cold call of each type: fold the base batch, serve, and
        compact one directory."""
        from clinical_vector_search_spark.operators.pq import write_trained_state

        write_trained_state(self.spark, f"{self.ix}/pq", self.centroids, self.books, self.dg.DIM)
        self.fold(self.batches[0], 0)
        self.serve()
        self.compact(self.dg.INGEST_DIRS[0])

    def timed_ingest(self) -> None:
        """Round r folds batch r + 1, serves both query sets and compacts
        one index directory, the six in turn."""
        for r in range(self.rounds):
            self.fold(self.batches[r + 1], r + 1)
            self.answers = self.serve()
            self.compact(self.dg.INGEST_DIRS[(r + 1) % len(self.dg.INGEST_DIRS)])

    def check_ingest(self) -> None:
        """Every document is indexed, and compacting the directories the
        serves read leaves their answers unchanged."""
        from clinical_vector_search_spark.io.tables import compact_batched
        from clinical_vector_search_spark.operators.bm25 import bm25_read_index
        from clinical_vector_search_spark.operators.pq import read_ivfpq_index

        n = sum(len(b) for b in self.batches)
        n_docs = bm25_read_index(self.spark, f"{self.ix}/bm25").select("n_docs").first()[0]
        self.check("bm25 n_docs == ingested", int(n_docs) == n)
        self.check(
            "ivfpq code rows == ingested",
            read_ivfpq_index(self.spark, f"{self.ix}/pq").count() == n,
        )
        for d in ("bm25/postings", "bm25/df", "bm25/scalars", "pq"):
            compact_batched(self.spark, f"{self.ix}/{d}")
        self.check("answers unchanged by compaction", self.serve() == self.answers)

    # -- run -------------------------------------------------------------

    def run(self) -> dict:
        host0 = host_state()
        t0 = time.perf_counter()
        self.setup()
        t1 = time.perf_counter()
        self.phase = "first"
        if self.workload == "query_modes":
            self.first_pass_modes()
        else:
            self.first_pass_ingest()
            self.index_files.clear()
            self.bytes_written = self.docs_ingested = 0
        t2 = time.perf_counter()
        setup_s, first_pass_s = t2 - t0, t2 - t1

        self.phase = "timed"
        host1 = host_state()
        t0 = time.perf_counter()
        if self.workload == "query_modes":
            self.timed_modes()
        else:
            self.timed_ingest()
        elapsed = time.perf_counter() - t0
        host2 = host_state()

        self.phase = "check"
        if self.workload == "query_modes":
            self.check_modes()
        else:
            self.check_ingest()
        stored = dir_bytes(self.ix) if self.workload == "ingest_maintain" else 0
        rdds_end = self.settled_persistent_rdds()
        self.stop()

        n_req = sum(len(v) for v in self.lat.values())
        medians = {k: statistics.median(v) * 1e3 for k, v in self.lat.items()}
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "requests_per_s": (n_req / elapsed, "1/s"),
            "p50_geomean_ms": (geomean(list(medians.values())), "ms"),
            "persistent_rdds_end": (rdds_end, "count"),
        }
        record = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "rounds": self.rounds, "code": code_hash(), "trace": int(self.traced),
            "first_pass_s": first_pass_s, "timed_s": elapsed, "requests": n_req,
            "type_p50_ms": medians, "type_n": {k: len(v) for k, v in self.lat.items()},
            "host": {
                "loadavg_start": host0["loadavg"], "loadavg_end": host2["loadavg"],
                "steal_pct_setup": steal_pct(host0, host1),
                "steal_pct_timed": steal_pct(host1, host2),
                "cpu_probe_ms_before": host1["probe_ms"],
                "cpu_probe_ms_after": host2["probe_ms"],
            },
            "end_to_end": {k: v[0] for k, v in end_to_end.items()},
        }
        for k in medians:
            print(
                f"{k}: {len(self.lat[k])} requests, median {medians[k]:.1f} ms, "
                f"max {max(self.lat[k]) * 1e3:.1f} ms"
            )
        print(f"first pass (part of setup_s): {first_pass_s:.2f} s")
        print("host: " + json.dumps(record["host"]))
        if self.traced:
            metrics = self.per_layer(medians, stored)
            record["per_layer"] = {k: v[0] for k, v in metrics.items()}
            record["trace_overhead_pct"] = self.trace_overhead(record["code"], medians)
            os.makedirs(os.path.join(OUT, "spans"), exist_ok=True)
            self.spans.dump(os.path.join(
                OUT, "spans", f"{self.workload}-seed{self.seed}-{os.getpid()}.json"
            ))
        else:
            metrics = end_to_end
        with open(os.path.join(OUT, "results.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- per-layer report --------------------------------------------------

    def per_layer(self, medians: dict, stored_bytes: int) -> dict:
        import tracing

        def med_ms(name):
            timed = [
                r["dur"] for r in self.spans.records
                if r["name"] == name and self.top(r).get("phase") == "timed"
            ]
            return statistics.median(timed) * 1e3 if timed else 0.0

        m: dict[str, tuple[float, str]] = {}
        m["session.get_spark_s"] = (self.spans.durations("session.get_spark")[0], "s")
        for name in CHILD_SPANS + INGEST_TYPES:
            m[f"{name}_ms"] = (med_ms(name), "ms")
        for kind in MODE_TYPES:
            m[f"{kind}.p50_ms"] = (medians.get(kind, 0.0), "ms")
        for kind in REQUEST_TYPES:
            cold = [r["dur"] for r in self.spans.records
                    if r["name"] == kind and r.get("phase") == "first"]
            m[f"{kind}.cold_ms"] = (cold[0] * 1e3 if cold else 0.0, "ms")
        m["modes.plan_hit_ratio"] = (
            self.plan_hits / self.plan_calls if self.plan_calls else 0.0, "ratio")
        m["tables.index_files"] = (
            statistics.mean(self.index_files) if self.index_files else 0.0, "count")
        m["tables.bytes_written_per_doc"] = (
            self.bytes_written / self.docs_ingested if self.docs_ingested else 0.0, "B/doc")
        m["tables.stored_bytes_per_input_byte"] = (
            stored_bytes / (self.input_bytes_per_doc * sum(len(b) for b in self.batches))
            if stored_bytes else 0.0, "ratio")
        for kind in REQUEST_TYPES:
            rd, mb = self.rdd_delta.get(kind), self.mb_delta.get(kind)
            m[f"plan_cache.{kind}.persistent_rdds_delta"] = (statistics.mean(rd) if rd else 0.0, "count")
            m[f"plan_cache.{kind}.cached_mb_delta"] = (statistics.mean(mb) if mb else 0.0, "MB")

        jobs, stages = tracing.parse_event_log(tracing.find_event_log(self.event_dir))
        per_span = tracing.attribute(self.spans.records, jobs, stages)
        stage_ms = dict.fromkeys(tracing.STAGE_KINDS, 0.0)
        n_timed = 0
        for kind in REQUEST_TYPES:
            rows = [
                per_span.get(i, {"jobs": 0, "tasks": 0, "executor_run_ms": 0.0,
                                 "shuffle_bytes": 0, "driver_gap_ms": r["dur"] * 1e3,
                                 "stage_ms": {}})
                for i, r in enumerate(self.spans.records)
                if r["name"] == kind and r.get("phase") == "timed"
            ]
            units = ("count", "count", "ms", "B", "ms")
            for stat, unit in zip(TRACE_STATS, units):
                vals = [row[stat] for row in rows]
                m[f"{kind}.{stat}"] = (statistics.median(vals) if vals else 0.0, unit)
            for row in rows:
                n_timed += 1
                for k, v in row["stage_ms"].items():
                    stage_ms[k] += v
        for k, v in stage_ms.items():
            m[f"stage.{k}.run_ms"] = (v / n_timed if n_timed else 0.0, "ms")

        return m

    def trace_overhead(self, code: str, medians: dict) -> float | None:
        """Traced minus untraced geometric mean of the per-type medians, in
        %, against the untraced runs of the same code, workload and length
        recorded in ``cvbench/out/results.jsonl``; None (and said so) when
        there are none."""
        untraced = [
            r["type_p50_ms"] for r in read_results()
            if (r["workload"], r.get("code"), r.get("rounds"), r["trace"])
            == (self.workload, code, self.rounds, 0)
        ]
        if not untraced:
            print("trace overhead: no untraced run of this code to compare with")
            return None
        base = {k: statistics.median(u[k] for u in untraced) for k in medians}
        pct = 100.0 * (geomean(list(medians.values())) / geomean(list(base.values())) - 1)
        print(f"trace overhead: {pct:+.1f}% against {len(untraced)} untraced runs of this code")
        return pct

    def top(self, rec: dict) -> dict:
        while rec["parent"] is not None:
            rec = self.spans.records[rec["parent"]]
        return rec


def read_results() -> list[dict]:
    path = os.path.join(OUT, "results.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def visible_files(path: str) -> int:
    """Data files a reader lists: hidden (``_``/``.``) files and
    directories are skipped, as Spark's file index skips them."""
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found in {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(run_dir)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
