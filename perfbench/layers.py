"""Per-layer metrics of a traced run, gathered from outside the program.

Two sources:

* ``Hooks`` wraps public functions in the worker process: the block codec
  names ``query/local.py`` decodes with, ``LocalSearcher.__init__`` (the
  part of a load after the collect) and ``LocalSearcher.encode``.
* ``per_layer`` reads Spark's own event log (uncompressed, not rolled) after
  the run. Tasks and jobs are attributed to the worker's marked phases by
  time. Inside a build, jobs split into layers by the table the build writes:
  up to the ``docs`` write is extract/chunk, up to the ``dictionary`` write is
  the fit (tf, stem map, stats, dictionary), up to the ``blocks`` write is
  pack, and the rest is the manifest step.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

# ---------------------------------------------------------------------------
# wrappers around public functions (worker process)
# ---------------------------------------------------------------------------


class Hooks:
    def __init__(self):
        import splade_spark.query.local as local

        self.decode_s = 0.0
        self.init_s = 0.0
        self.blocks = 0
        self.last_encode_s = 0.0
        self.loads: list[dict] = []

        def timed(fn, slot):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    setattr(self, slot, getattr(self, slot) + time.perf_counter() - t0)
            return wrapper

        local.decode_doc_ids = timed(local.decode_doc_ids, "decode_s")
        local.decode_impacts = timed(local.decode_impacts, "decode_s")
        cls = local.LocalSearcher
        init, encode = cls.__init__, cls.encode

        def init_wrapper(searcher, dictionary_rows, block_rows, *a, **kw):
            self.blocks = len(block_rows)
            t0 = time.perf_counter()
            init(searcher, dictionary_rows, block_rows, *a, **kw)
            self.init_s += time.perf_counter() - t0

        def encode_wrapper(searcher, text):
            t0 = time.perf_counter()
            out = encode(searcher, text)
            self.last_encode_s = time.perf_counter() - t0
            return out

        cls.__init__, cls.encode = init_wrapper, encode_wrapper

    def reset_load(self) -> None:
        self.decode_s = self.init_s = 0.0

    def end_load(self, load_s: float) -> None:
        self.loads.append({"collect_s": load_s - self.init_s, "decode_s": self.decode_s,
                           "blocks": self.blocks})

    def search_layer(self, searcher, queries, lat, enc, k) -> dict:
        """Encode vs score time, and the size of the lists each query touches."""
        postings, ratios = [], []
        for _, text in queries:
            w = searcher.encode(text)
            n = sum(len(d) for t in w for d, _ in searcher.postings.get(t, []))
            postings.append(n)
            if n:
                ratios.append(len(searcher.search(text, k)) / n)
        return {
            "load.collect_s": statistics.median(x["collect_s"] for x in self.loads),
            "load.decode_s": statistics.median(x["decode_s"] for x in self.loads),
            "load.blocks": self.loads[-1]["blocks"],
            "search.encode_ms": 1e3 * statistics.median(enc),
            "search.score_ms": 1e3 * statistics.median(t - e for t, e in zip(lat, enc)),
            "search.postings_per_query": sum(postings) / len(postings),
            "search.topk_per_posting": sum(ratios) / len(ratios) if ratios else 0.0,
        }

    @staticmethod
    def wand_fanout(spark, index_dir, queries) -> dict:
        """(query, segment) groups and block rows the WAND join ships to Python."""
        from splade_spark.build.segments import SegmentedIndex
        from splade_spark.query.encode import encode_queries

        idx = SegmentedIndex(index_dir)
        enc = encode_queries(queries, idx.dictionary(spark))
        joined = idx.blocks(spark).select("term_id", "segment_id").join(
            enc.select("query_id", "term_id"), "term_id"
        ).cache()
        out = {
            "wand.blocks_shipped": joined.count(),
            "wand.groups": joined.select("query_id", "segment_id").distinct().count(),
        }
        joined.unpersist()
        return out


# ---------------------------------------------------------------------------
# event log (parent process, after the run)
# ---------------------------------------------------------------------------

_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput:[^\n]*\nArguments: (?:file:)?([^,\s]+)"
)


def _read_events(events_dir: str):
    jobs, execs, tasks = {}, {}, []
    for name in os.listdir(events_dir):
        with open(os.path.join(events_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1e3,
                        "exec": props.get("spark.sql.execution.id"),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    m = _WRITE.search(ev.get("physicalPlanDescription", ""))
                    execs[str(ev["executionId"])] = (
                        os.path.basename(m.group(1).rstrip("/")) if m else None
                    )
                elif kind == "SparkListenerTaskEnd":
                    info, met = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = met.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1e3,
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "run": met.get("Executor Run Time", 0) / 1e3,
                        "cpu": met.get("Executor CPU Time", 0) / 1e9,
                        "gc": met.get("JVM GC Time", 0) / 1e3,
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                        "spill": met.get("Memory Bytes Spilled", 0) + met.get("Disk Bytes Spilled", 0),
                    })
    job_list = sorted(
        ({**j, "target": execs.get(j["exec"])} for j in jobs.values() if "end" in j),
        key=lambda j: j["start"],
    )
    return job_list, tasks


def _agg(tasks, jobs) -> dict:
    """Sums over tasks; skew = max/median task time in the heaviest stage."""
    by_stage: dict[int, list] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(), key=lambda ts: sum(t["run"] for t in ts))
        durs = [t["dur"] for t in heavy]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "run_s": sum(t["run"] for t in tasks),
        "cpu_s": sum(t["cpu"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "task_skew": skew,
        "jobs": len(jobs),
    }


def _window(items, key, t0, t1):
    return [x for x in items if t0 <= x[key] < t1]


def _union_s(jobs) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        if cur_e is None or j["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j["start"], j["end"]
        else:
            cur_e = max(cur_e, j["end"])
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _build_layers(jobs, tasks, t0, t1) -> dict:
    js = _window(jobs, "start", t0, t1)
    ts = _window(tasks, "launch", t0, t1)

    def last_end(target):
        ends = [j["end"] for j in js if j["target"] == target]
        return max(ends) if ends else t0

    cuts = [t0, last_end("docs"), last_end("dictionary"), last_end("blocks"), t1]
    out = {"build.jobs": len(js), "build.idle_s": (t1 - t0) - _union_s(js)}
    for name, a, b in zip(("chunk", "fit", "pack", "manifest"), cuts, cuts[1:]):
        for k, v in _agg(_window(ts, "launch", a, b), _window(js, "start", a, b)).items():
            out[f"build.{name}.{k}"] = v
    return out


def _median_over(marks, prefix, fn) -> dict:
    runs = [fn(t0, t1) for label, t0, t1 in marks if label.startswith(prefix)]
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]} if runs else {}


# the per-layer metrics a traced run reports (names as in BENCHMARK.json)
_BUILD_KEYS = {
    "build.chunk.run_s", "build.chunk.cpu_s", "build.chunk.gc_s",
    "build.fit.run_s", "build.fit.shuffle_bytes", "build.fit.jobs",
    "build.pack.run_s", "build.pack.shuffle_bytes", "build.pack.spill_bytes",
    "build.pack.task_skew", "build.manifest.run_s", "build.jobs", "build.idle_s",
}


def per_layer(out: dict, events_dir: str) -> dict:
    jobs, tasks = _read_events(events_dir)
    marks = out["marks"]
    res = {
        k: v for k, v in
        _median_over(marks, "build.", lambda a, b: _build_layers(jobs, tasks, a, b)).items()
        if k in _BUILD_KEYS
    }
    res["build.blocks"] = out["layer"].get("load.blocks")

    def phase(a, b):
        return _agg(_window(tasks, "launch", a, b), _window(jobs, "start", a, b))

    wand = _median_over(marks, "wand.", phase)
    res.update({f"wand.{k}": wand[k] for k in ("run_s", "cpu_s", "shuffle_bytes", "task_skew")})
    app = _median_over(marks, "append", phase)
    res["append.run_s"] = app["run_s"]
    res["append.jobs_per_batch"] = app["jobs"] / out["spec"]["append_batches"]
    comp = _median_over(marks, "compact.", phase)
    res["compact.run_s"] = comp["run_s"]
    res["compact.shuffle_bytes"] = comp["shuffle_bytes"]
    return res
