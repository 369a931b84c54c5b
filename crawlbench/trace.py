"""Per-layer tracing from outside the program.

``Tracer.install`` wraps public entry points of the crawl engine's
layers in spans (name, start, end, parent, run id). Each span tags the
Spark jobs it submits with its own job group; after a crawl,
``Tracer.harvest`` reads per-job and per-stage metrics from Spark's
status store (live even with the UI disabled) and attributes them to
spans. Spans are kept in memory and written out by ``dump``.

Span metrics (inclusive of child spans unless noted):
  wall_s, self_s (wall minus the time child spans cover), jobs,
  driver_s (wall not covered by any Spark job), executor_cpu_s,
  shuffle_bytes (read + write), output_bytes.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

# CrawlJob methods wrapped as ``crawl.<method>`` spans
CRAWL_METHODS = (
    "init_frontier",
    "run",
    "run_round",
    "enqueue_frontier",
    "materialize_frontier",
    "archive_stage",
)
# LakeCatalog methods wrapped as ``tables.<method>`` spans: driver-side
# directory reads that never submit a job
LISTING_METHODS = (
    "slice_exists",
    "slice_committed",
    "max_committed_slice",
    "partition_values",
    "table_partition_values",
    "max_slice",
    "partition_bytes",
    "slice_bytes",
    "table_partition_bytes",
    "has_marker",
)
SPAN_SUFFIXES = (
    "wall_s",
    "self_s",
    "jobs",
    "driver_s",
    "executor_cpu_s",
    "shuffle_bytes",
    "output_bytes",
)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []
        self.observations: list[tuple[str, Observation]] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"{self.run_id}/{self._next}" if tag_jobs else None,
            "start": time.time(),
        }
        if tag_jobs:
            self.sc.setJobGroup(sp["group"], name, False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if tag_jobs:
                outer = next((s for s in reversed(self._stack) if s["group"]), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer["group"], outer["name"], False)
            self.spans.append(sp)

    def _patch(self, owner, attr: str, name: str, tag_jobs: bool = True, post=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, tag_jobs):
                out = orig(*a, **kw)
            return post(out) if post is not None else out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def _observe(self, key: str, *aggs):
        def post(df):
            obs = Observation()
            self.observations.append((key, obs))
            return df.observe(obs, *aggs)

        return post

    def install(self) -> None:
        from netrunner_spark.operators import seen as seen_mod
        from netrunner_spark.plans import crawl as crawl_mod
        from netrunner_spark.sources import fetcher as fetcher_mod
        from netrunner_spark.tables import LakeCatalog

        for m in CRAWL_METHODS:
            self._patch(crawl_mod.CrawlJob, m, f"crawl.{m}")
        for m in LISTING_METHODS:
            self._patch(LakeCatalog, m, f"tables.{m}", tag_jobs=False)
        self._patch(
            fetcher_mod,
            "prepare_colocated_fetcher",
            "fetcher.prepare_colocated_fetcher",
        )
        # plan-building calls: their spans are short; the observations
        # they attach count rows when the enqueue job runs
        self._patch(crawl_mod, "parse_pages", "parser.parse_pages")
        self._patch(
            crawl_mod,
            "unseen_only",
            "seen.unseen_only",
            post=self._observe("seen.admitted", F.count(F.lit(1)).alias("n")),
        )
        self._patch(
            seen_mod,
            "bloom_partition",
            "seen.bloom_partition",
            post=self._observe(
                "seen.bloom",
                F.count(F.lit(1)).alias("probed"),
                F.coalesce(
                    F.sum(F.when(~F.col("maybe_seen"), 1).otherwise(0)), F.lit(0)
                ).alias("cleared"),
            ),
        )

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------- status store
    def harvest(self) -> None:
        """Attach job intervals and stage metrics to every finished span
        that has not been harvested yet."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        conv = getattr(jvm, "scala.jdk.javaapi.CollectionConverters")
        store = jsc.statusStore()
        stages = {}
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for s in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
            m = stages.setdefault(s.stageId(), [0, 0, 0])
            m[0] += s.executorCpuTime()
            m[1] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            m[2] += s.outputBytes()
        by_group: dict[str, list[dict]] = {}
        for j in conv.asJava(store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined() or not str(g.get()).startswith(self.run_id + "/"):
                continue
            start = j.submissionTime()
            end = j.completionTime()
            job = {
                "start": start.get().getTime() / 1000 if start.isDefined() else None,
                "end": end.get().getTime() / 1000 if end.isDefined() else None,
                "cpu_ns": 0,
                "shuffle": 0,
                "out": 0,
            }
            for sid in conv.asJava(j.stageIds()):
                m = stages.get(sid)
                if m is not None:
                    job["cpu_ns"] += m[0]
                    job["shuffle"] += m[1]
                    job["out"] += m[2]
            by_group.setdefault(str(g.get()), []).append(job)
        for sp in self.spans:
            if "jobs" not in sp:
                sp["jobs"] = by_group.get(sp["group"], []) if sp["group"] else []

    def observed(self) -> dict[str, float]:
        """Sum of the attached observations that ran."""
        out: dict[str, float] = {}
        for key, obs in self.observations:
            if not obs._jo.future().isCompleted():
                continue
            # the JVM map, not Observation.get: a plan that dropped the
            # observed node completes the future with no row
            got = obs._jo.getAsJava()
            for k in list(got.keySet()):
                val = got.get(k)
                name = key if k == "n" else f"{key}.{k}"
                out[name] = out.get(name, 0) + (val or 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, sort_keys=True) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_metrics(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name, summed over its calls: the SPAN_SUFFIXES metrics,
    each inclusive of the span's descendants (self_s excepted)."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)

    def subtree_jobs(sp):
        out = list(sp.get("jobs", []))
        for c in children.get(sp["id"], []):
            out += subtree_jobs(c)
        return out

    agg: dict[str, dict[str, float]] = {}
    for sp in spans:
        jobs = subtree_jobs(sp)
        wall = sp["end"] - sp["start"]
        kids = [(c["start"], c["end"]) for c in children.get(sp["id"], [])]
        busy = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        m = agg.setdefault(sp["name"], dict.fromkeys(SPAN_SUFFIXES, 0.0))
        m["wall_s"] += wall
        m["self_s"] += wall - _covered(kids, sp["start"], sp["end"])
        m["jobs"] += len(jobs)
        m["driver_s"] += wall - _covered(busy, sp["start"], sp["end"])
        m["executor_cpu_s"] += sum(j["cpu_ns"] for j in jobs) / 1e9
        m["shuffle_bytes"] += sum(j["shuffle"] for j in jobs)
        m["output_bytes"] += sum(j["out"] for j in jobs)
    return agg
