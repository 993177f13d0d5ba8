"""One benchmark run of one workload, in a fresh process (started by run.py).

    python3 perfbench/worker.py --workload web-head --seed 1 --seconds 3 \\
        --trace 0 --work <dir> --result <file>

Runs the shipped path on a seeded corpus: stage the web_pages table, build it
with ``build_segmented_index``, load a ``LocalSearcher`` and time single
queries, time ``topk_wand`` batches, append micro-batches with
``stream_build_segments`` and compact with ``scripts/compact_index``. Every
output is checked against perfbench/oracle.py; a mismatch is one failed
operation and the run goes on. Writes the result JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import oracle as oracle_mod  # noqa: E402
import procmem  # noqa: E402
from queries import make_queries  # noqa: E402

K = 5
# What a run does on each workload. The in-run repeat counts set its cost:
# the whole benchmark (4 + 22 runs per workload) must fit 3420 s.
WORKLOADS = {
    "web-head": dict(
        n_docs=800, buckets=0, frozen=True, n_sampled=200, append_docs=500,
        append_batches=5, builds=2, loads=5, wands=2, compacts=2, warm_build=True,
    ),
    "web-zipf": dict(
        n_docs=300, buckets=8192, frozen=False, n_sampled=2000, append_docs=200,
        append_batches=4, builds=1, loads=1, wands=2, compacts=1, warm_build=False,
    ),
}
WAND_QUERIES = 500
SAMPLE = 40  # queries checked after the append and after each compaction


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def load_compact_index():
    spec = importlib.util.spec_from_file_location(
        "compact_index", os.path.join(ROOT, "scripts", "compact_index.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compact_index


def make_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = min(4, os.cpu_count() or 4)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={work}")
    )
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark




def warm_workers(spark) -> None:
    """Fork the Python UDF workers and import the analyzer in each."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def _warm(s):
        import splade_spark.text.analyzer  # noqa: F401
        return s * 0

    slots = spark.sparkContext.defaultParallelism
    spark.range(0, slots * 4, 1, slots * 2).select(_warm(F.col("id").cast("int"))).count()


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.spec = WORKLOADS[workload]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, int] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.marks: list[tuple[str, float, float]] = []  # (label, t0, t1) epoch s
        self.hooks = None

    # -- bookkeeping --------------------------------------------------------
    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures[what] = self.failures.get(what, 0) + 1
            log(f"CHECK FAILED: {what}")

    @contextlib.contextmanager
    def mark(self, label: str):
        t0 = time.time()
        p0 = time.perf_counter()
        box = {}
        yield box
        box["s"] = time.perf_counter() - p0
        self.marks.append((label, t0, time.time()))
        log(f"{label:16s} {box['s']:8.2f}s")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- program calls --------------------------------------------------------
    def build(self, index_dir: str) -> None:
        from splade_spark.build.segments import build_segmented_index

        shutil.rmtree(index_dir, ignore_errors=True)
        build_segmented_index(self.spark.read.parquet(self.pages_dir), index_dir, use_html=True)

    def query_frame(self, queries):
        return self.spark.createDataFrame(queries, "query_id long, text string")

    def wand(self, index_dir: str, queries) -> dict[int, list]:
        from splade_spark.build.segments import SegmentedIndex
        from splade_spark.query.wand import topk_wand

        idx = SegmentedIndex(index_dir)
        rows = topk_wand(self.query_frame(queries), idx.blocks(self.spark),
                         idx.dictionary(self.spark), k=K).collect()
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
        return out

    def compact(self, index_dir: str) -> None:
        with contextlib.redirect_stdout(sys.stderr):  # it prints a JSON line
            self.compact_fn(self.spark, index_dir, 1)

    # -- phases ---------------------------------------------------------------
    def setup(self) -> None:
        spec = self.spec
        with self.mark("setup.session") as m:
            self.spark = make_session(self.work, self.trace)
            warm_workers(self.spark)
        session_s = m["s"]
        self.docs = corpus.make_documents(self.seed, spec["n_docs"])
        self.pages_dir = self.path("pages")
        stage = []
        for _ in range(3):
            with self.mark("setup.stage") as m:
                corpus.stage_pages(self.spark, self.docs, spec["buckets"], self.pages_dir, n_files=8)
            stage.append(m["s"])
        self.input_bytes = dir_bytes(self.pages_dir)
        self.compact_fn = load_compact_index()
        # warm-up over the same pages on the same code paths (segment count,
        # dictionary path), discarded: a build and a compaction. web-zipf
        # times its one build cold: a warm-up build there costs as much as
        # the timed one, which the run budget does not allow.
        with self.mark("setup.warm") as m:
            if spec["warm_build"]:
                warm = self.path("warm")
                self.build(warm)
                self.compact(warm)
                shutil.rmtree(warm, ignore_errors=True)
        self.layer.update({
            "setup.session_s": session_s,
            "setup.stage_s": median(stage),
            "setup.warm_s": m["s"],
        })
        self.e2e["setup_s"] = session_s + median(stage) + m["s"]

    def fit_reference(self) -> None:
        """The independent reference: oracle fit and expected results (not timed)."""
        spec = self.spec
        t0 = time.perf_counter()
        self.pages = oracle_mod.read_pages(self.pages_dir)
        self.oracle = oracle_mod.fit_oracle(self.pages)
        self.queries = make_queries(self.seed, self.oracle.texts, spec["n_sampled"],
                                    spec["frozen"], corpus.EXPAND)
        self.want = {qid: self.oracle.topk(t, K) for qid, t in self.queries}
        step = max(1, len(self.queries) // SAMPLE)
        self.sample = self.queries[::step][:SAMPLE]
        log(f"oracle: {len(self.pages)} pages, {self.oracle.n_docs} chunks, "
            f"{len(self.oracle.df)} terms, {len(self.queries)} queries "
            f"in {time.perf_counter() - t0:.1f}s")

    def fit_check(self, index_dir: str) -> int:
        from splade_spark.build.segments import SegmentedIndex

        idx = SegmentedIndex(index_dir)
        stats = pq.read_table(os.path.join(index_dir, "corpus_stats")).to_pylist()[0]
        drows = pq.read_table(os.path.join(index_dir, "dictionary")).to_pylist()
        n_post = sum(m["n_postings"] for m in idx.committed_segments().values())
        for what, ok in zip(("fit.n_docs", "fit.avgdl", "fit.dictionary", "fit.postings"),
                            oracle_mod.check_fit(self.oracle, stats, drows, n_post)):
            self.check(what, ok)
        return len(drows)

    def phase_build(self) -> None:
        spec = self.spec
        self.idx_dir = self.path("index")
        times = []
        for i in range(spec["builds"]):
            with self.mark(f"build.{i}") as m:
                self.build(self.idx_dir)
            times.append(m["s"])
            self.check("build", True)
            with self.mark("check.fit"):
                vocab = self.fit_check(self.idx_dir)
        self.e2e["build_pages_per_s"] = len(self.pages) / median(times)

        from splade_spark.build.segments import SegmentedIndex

        manifests = SegmentedIndex(self.idx_dir).committed_segments()
        self.n_postings = sum(m["n_postings"] for m in manifests.values())
        self.e2e["blocks_bytes_per_posting"] = (
            dir_bytes(os.path.join(self.idx_dir, "blocks")) / self.n_postings
        )
        self.e2e["index_bytes_per_input_byte"] = dir_bytes(self.idx_dir) / self.input_bytes
        self.info.update(pages=len(self.pages), chunk_docs=self.oracle.n_docs,
                         postings=self.n_postings, segments=len(manifests))
        self.layer["build.vocab"] = vocab

    def phase_search(self) -> None:
        from splade_spark.query.local import LocalSearcher

        times = []
        for i in range(self.spec["loads"]):
            if self.hooks:
                self.hooks.reset_load()
            with self.mark(f"load.{i}") as m:
                searcher = LocalSearcher.load(self.spark, self.idx_dir)
            times.append(m["s"])
            if self.hooks:
                self.hooks.end_load(m["s"])
        self.e2e["searcher_load_s"] = median(times)

        gc.collect()  # start the latency loop without the load's garbage
        lat, enc = [], []
        t_end = time.perf_counter() + self.seconds
        with self.mark("search"):
            while len(lat) < 3000 or time.perf_counter() < t_end:
                for qid, text in self.queries:
                    # a query's latency is the median of three back-to-back
                    # calls, so one interrupt or context switch on the shared
                    # host does not read as the program's tail
                    reps = []
                    for _ in range(3):
                        t0 = time.perf_counter()
                        hits = searcher.search(text, K)
                        reps.append((time.perf_counter() - t0,
                                     self.hooks.last_encode_s if self.hooks else 0.0))
                    t, e = sorted(reps)[1]
                    lat.append(t)
                    enc.append(e)
                    self.check("search", oracle_mod.same_hits(hits, self.want[qid]))
        # percentiles per block of 1 000 consecutive queries, median over the
        # blocks: a burst of interference then moves one block's tail, not
        # the run's
        blocks = [sorted(lat[i:i + 1000]) for i in range(0, len(lat) - 999, 1000)]
        self.e2e["query_p50_ms"] = 1e3 * median(b[500] for b in blocks)
        self.e2e["query_p99_ms"] = 1e3 * median(b[989] for b in blocks)
        self.info["search_queries"] = len(lat)
        self.info["hit_share"] = sum(bool(v) for v in self.want.values()) / len(self.want)
        if self.hooks:
            self.layer.update(self.hooks.search_layer(searcher, self.queries, lat, enc, K))

    def phase_wand(self) -> None:
        spec = self.spec
        n = len(self.queries)
        wq = [(i, self.queries[i % n][1]) for i in range(WAND_QUERIES)]
        self.wand(self.idx_dir, wq[:50])  # warm-up, discarded
        times = []
        for i in range(spec["wands"]):
            with self.mark(f"wand.{i}") as m:
                got = self.wand(self.idx_dir, wq)
            times.append(m["s"])
            for qid, _ in wq:
                self.check("wand", oracle_mod.same_hits(got.get(qid, []), self.want[qid % n]))
        self.e2e["query_batch_qps"] = len(wq) / median(times)
        if self.hooks:
            self.layer.update(self.hooks.wand_fanout(self.spark, self.idx_dir, self.query_frame(wq)))

    def phase_append(self) -> None:
        from splade_spark.build.segments import SegmentedIndex
        from splade_spark.streaming import stream_build_segments

        spec = self.spec
        app_docs = corpus.make_documents(self.seed + 1_000_003, spec["append_docs"],
                                         first_doc_id=10_000_000)
        src = self.path("append_src")
        with self.mark("stage.append"):
            files = corpus.stage_micro_batches(self.spark, app_docs, spec["buckets"], src,
                                               spec["append_batches"])
            app_pages = oracle_mod.read_pages(src)
        self.app_dir = self.path("appended")
        shutil.copytree(self.idx_dir, self.app_dir)
        stream = (
            self.spark.readStream.schema(self.spark.read.parquet(self.pages_dir).schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        with self.mark("append") as m:
            q = stream_build_segments(stream, self.app_dir, use_html=True,
                                      checkpoint_dir=self.path("append_ckpt"))
            q.awaitTermination()
        batches = sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                         key=lambda p: p["batchId"])
        self.check("append", q.exception() is None and len(batches) == spec["append_batches"])
        # pages per batch from the staged files: the progress' numInputRows
        # counts every scan of the batch, and the append scans it more than once
        pages = [pq.ParquetFile(f).metadata.num_rows for f in files]
        # the first micro-batch is the warm-up of the streaming code path
        batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches[1:]]
        self.e2e["append_pages_per_s"] = median(n / s for n, s in zip(pages[1:], batch_s))
        self.layer["append.batch_s"] = median(batch_s)
        self.info.update(append_wall_s=m["s"], append_pages=len(app_pages))

        frozen = oracle_mod.FrozenFitOracle(self.oracle, app_pages)
        manifests = SegmentedIndex(self.app_dir).committed_segments()
        self.app_postings = sum(m["n_postings"] for m in manifests.values())
        self.check("append.postings", self.app_postings == self.n_postings + frozen.n_postings)
        with self.mark("check.append"):
            self.app_hits = self.wand(self.app_dir, self.sample)
        for qid, text in self.sample:
            self.check("append.search",
                       oracle_mod.same_hits(self.app_hits.get(qid, []), frozen.topk(text, K)))

    def phase_compact(self) -> None:
        from splade_spark.build.segments import SegmentedIndex

        times = []
        for i in range(self.spec["compacts"]):
            d = self.path(f"compact{i}")
            shutil.copytree(self.app_dir, d)
            self.layer["compact.bytes_in"] = dir_bytes(os.path.join(d, "blocks"))
            with self.mark(f"compact.{i}") as m:
                self.compact(d)
            times.append(m["s"])
            manifests = SegmentedIndex(d).committed_segments()
            self.check("compact", len(manifests) == 1 and sum(
                x["n_postings"] for x in manifests.values()) == self.app_postings)
            got = self.wand(d, self.sample)
            for qid, _ in self.sample:
                self.check("compact.search",
                           oracle_mod.same_hits(got.get(qid, []), self.app_hits.get(qid, [])))
            shutil.rmtree(d, ignore_errors=True)
        self.e2e["compact_s"] = median(times)

    def run(self) -> None:
        mem = procmem.PeakSampler(os.getpid())
        mem.start()
        if self.trace:
            import layers

            self.hooks = layers.Hooks()
        self.setup()
        self.fit_reference()
        self.phase_build()
        self.phase_search()
        self.phase_wand()
        self.phase_append()
        self.phase_compact()
        mem.stop()
        self.e2e["peak_rss_mb"] = mem.peak_mb
        self.layer["mem.jvm_hwm_mb"] = mem.jvm_mb
        self.layer["mem.python_hwm_mb"] = mem.python_mb


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args(argv)
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), a.work)
    t0 = time.perf_counter()
    try:
        run.run()
    finally:
        if getattr(run, "spark", None) is not None:
            run.spark.stop()
    out = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "attempted": run.attempted, "failed": run.failed, "failures": run.failures,
        "e2e": run.e2e, "layer": run.layer, "info": run.info,
        "spec": run.spec, "marks": run.marks, "wall_s": time.perf_counter() - t0,
    }
    log(f"wall {out['wall_s']:.1f}s")
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
