"""Crawl-engine benchmark: run one workload, check its outputs, print
its metrics.

    python3 crawlbench/run.py --workload drain_pairs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Set-up (Spark session start, input
generation, the co-located store layout) is timed, then whole crawls
are repeated on fresh lakes until ``--seconds`` of crawling have
passed. Every crawl's cache (and, for ``crawl_html``, parsed table) is
checked against expectations computed apart from the program
(``expect.py``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes
the span file ``.bench_out/spans-<workload>-<seed>.jsonl``). See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def descendants() -> set[int]:
    """Pids of all processes this one started, directly or not."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the Py4J gateway down and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def check_outputs(spark, lake, wl, exp, arch):
    """Read the lake's cache (and parsed table) back and check them
    against the expectation → (verdict, cache rows)."""
    from netrunner_spark.tables import LakeCatalog

    from crawlbench import expect as E

    cat = LakeCatalog(spark, lake)
    cols = ["url", "host", "status", "attempts", "source", "fetched_round"]
    if wl.validates_images:
        cols.append("image_ok")
    rows = [r.asDict() for r in cat.read_slices("cache").select(*cols).collect()]
    verdict = E.check_cache(
        rows,
        exp.attempted,
        exp.pages,
        exp.robots,
        wl.round_seconds,
        wl.rps,
        corrupted=exp.corrupted,
    )
    if wl.archive:
        parsed = cat.read("parsed").select(
            "url", "canonical_url", "title", "content", "content_hash"
        )
        av = E.check_archive([r.asDict() for r in parsed.collect()], exp.survivors)
        verdict.attempted += av.attempted
        verdict.failed += av.failed
        verdict.problems.update(av.problems)
        if arch["parsed"] != len(exp.survivors):
            verdict.fail("archive_count")
    return verdict, rows


def layout(spark, inputs, lake, cores):
    """The co-located store layout on a fresh lake → (fetcher, seconds)."""
    from netrunner_spark.sources import fetcher as fetcher_mod
    from netrunner_spark.tables import LakeCatalog

    t0 = time.perf_counter()
    fetcher = fetcher_mod.prepare_colocated_fetcher(
        LakeCatalog(spark, lake), inputs.web, inputs.images, n_buckets=cores
    )
    return fetcher, time.perf_counter() - t0


def crawl_once(spark, wl, inputs, exp, lake, cores) -> dict:
    """One whole crawl on a fresh lake → timings, counts and verdict."""
    from netrunner_spark.plans.crawl import CrawlJob
    from netrunner_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, lake)
    fetcher, layout_s = layout(spark, inputs, lake, cores)
    job = CrawlJob(spark, cat, fetcher, inputs.robots, wl.config(cores))

    rounds: list[tuple[float, float]] = []
    real_run_round = job.run_round

    def timed_run_round(r):
        a = time.perf_counter()
        out = real_run_round(r)
        rounds.append((a, time.perf_counter()))
        return out

    job.run_round = timed_run_round
    t_init = time.perf_counter()
    job.init_frontier(inputs.frontier)
    stats = job.run()
    t_done = time.perf_counter()
    arch, archive_s = None, None
    if wl.archive:
        a = time.perf_counter()
        arch = job.archive_stage()
        archive_s = time.perf_counter() - a

    verdict, rows = check_outputs(spark, lake, wl, exp, arch)
    ok_rows = sum(1 for r in rows if r["status"] is not None and 200 <= r["status"] <= 299)
    out = {
        "layout_s": layout_s,
        "crawl_s": t_done - t_init,
        "first_commit_s": rounds[0][1] - t_init,
        "round_s": [b - a for a, b in rounds],
        "rounds": stats["rounds"],
        "cached": len(rows),
        "cache_bytes": _dir_bytes(os.path.join(lake, "cache", "data")),
        "ok_per_attempt": ok_rows / max(1, sum(r["attempts"] for r in rows)),
        "archive": arch,
        "archive_s": archive_s,
        "verdict": verdict,
    }
    return out


def kernel_rates(wl, inputs, budget_s: float = 1.0) -> dict[str, float]:
    """In-process, one-core rates of the UDF kernels over this
    workload's own inputs (0 for a layer the workload bypasses)."""
    from netrunner_spark.images import decode_image, phash64
    from netrunner_spark.parser.html import html_to_text
    from netrunner_spark.urlnorm import rfc3986_normalize

    def rate(fn, items):
        if not items:
            return 0.0
        n, t0 = 0, time.perf_counter()
        while True:
            for it in items:
                fn(it)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= budget_s:
                return n / dt

    out = {"images.checks_per_s": 0.0, "parser.pages_per_s": 0.0, "urlnorm.urls_per_s": 0.0}
    if wl.validates_images and inputs.images is not None:
        blobs = [bytes(r["bytes"]) for r in inputs.images.select("bytes").limit(500).collect()]

        def check(b):
            try:
                phash64(decode_image(b))
            except Exception:  # noqa: BLE001 - a failed decode is a valid verdict
                pass

        out["images.checks_per_s"] = rate(check, blobs)
    if wl.archive or wl.follow_links:
        from pyspark.sql import functions as F

        docs = [
            (r["url"], r["content"])
            for r in inputs.web.filter(F.length("content") > 0)
            .select("url", "content")
            .limit(200)
            .collect()
        ]
        out["parser.pages_per_s"] = rate(lambda d: html_to_text(*d), docs)
        if wl.follow_links:
            links = [l for d in docs for l in html_to_text(*d).links]
            out["urlnorm.urls_per_s"] = rate(rfc3986_normalize, links)
    return out


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "netrunner_spark")):
        print(f"crawlbench: no netrunner_spark package under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from crawlbench import env

    base = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        extra = env.pin(ROOT, scratch)
        from crawlbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        try:
            result = run(args, WORKLOADS[args.workload], scratch, extra)
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(args, wl, scratch, extra) -> dict:
    from netrunner_spark.session import get_spark

    from crawlbench.env import host_cores
    from crawlbench.trace import Tracer

    cores = host_cores()
    t0 = time.perf_counter()
    spark = get_spark("crawlbench", master=f"local[{cores}]", extra=extra)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        inputs = wl.generate(spark, args.seed, os.path.join(scratch, "inputs"))
        gen_s = time.perf_counter() - t0
        exp = wl.expectation(inputs, args.seed)

        tracer = Tracer(spark, f"{wl.name}-{args.seed}") if args.trace else None
        # untraced: whole crawls until --seconds have passed. Traced: an
        # untraced warm-up crawl, then traced and untraced crawls in
        # turn (at least one of each), so the overhead compares crawls
        # that both ran after the warm-up.
        iters, traced, untraced = [], [], []
        t_start = time.perf_counter()
        while True:
            k = len(iters)
            use_trace = tracer is not None and k % 2 == 1
            lake = os.path.join(scratch, f"lake-{k}")
            if use_trace:
                tracer.install()
                first_span = len(tracer.spans)
            try:
                it = crawl_once(spark, wl, inputs, exp, lake, cores)
            finally:
                if use_trace:
                    tracer.uninstall()
                shutil.rmtree(lake, ignore_errors=True)
            if use_trace:
                tracer.harvest()
                it["spans"] = tracer.spans[first_span:]
                traced.append(it)
            elif k > 0:
                untraced.append(it)
            iters.append(it)
            if time.perf_counter() - t_start >= args.seconds and (
                tracer is None or (traced and untraced)
            ):
                break

        attempted = sum(it["verdict"].attempted for it in iters)
        failed = sum(it["verdict"].failed for it in iters)
        problems = {}
        for it in iters:
            for kind, n in it["verdict"].problems.items():
                problems[kind] = problems.get(kind, 0) + n
        if problems:
            print(f"crawlbench: check failures {problems}", file=sys.stderr)
        if not args.trace:
            metrics = {
                "setup_s": (
                    session_s + gen_s + median(it["layout_s"] for it in iters),
                    "s",
                ),
                "crawl_urls_per_s": (median(it["cached"] / it["crawl_s"] for it in iters), "1/s"),
                "first_commit_s": (median(it["first_commit_s"] for it in iters), "s"),
                "round_s_p50": (median(r for it in iters for r in it["round_s"]), "s"),
                "cache_bytes_per_url": (
                    median(it["cache_bytes"] / it["cached"] for it in iters),
                    "bytes",
                ),
            }
        else:
            metrics = layer_metrics(wl, inputs, exp, traced, untraced, tracer)
            path = os.path.join(ROOT, ".bench_out", f"spans-{wl.name}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tracer.dump(path)
            print(f"crawlbench: spans written to {path}", file=sys.stderr)
        print(
            f"crawlbench: {wl.name} seed={args.seed} iterations={len(iters)} "
            f"session_s={session_s:.2f} gen_s={gen_s:.2f} "
            f"crawl_s={[round(it['crawl_s'], 2) for it in iters]} "
            f"rounds={iters[0]['rounds']} cached={iters[0]['cached']}",
            file=sys.stderr,
        )
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        spark.stop()


def layer_metrics(wl, inputs, exp, traced, untraced, tracer) -> dict:
    from crawlbench.trace import SPAN_SUFFIXES, span_metrics

    per_iter = [span_metrics(it["spans"]) for it in traced]
    units = {
        "wall_s": "s",
        "self_s": "s",
        "jobs": "count",
        "driver_s": "s",
        "executor_cpu_s": "s",
        "shuffle_bytes": "bytes",
        "output_bytes": "bytes",
    }
    out = {}
    for span in (
        "crawl.init_frontier",
        "crawl.run_round",
        "crawl.enqueue_frontier",
        "crawl.materialize_frontier",
        "crawl.archive_stage",
        "fetcher.prepare_colocated_fetcher",
    ):
        for suf in SPAN_SUFFIXES:
            out[f"{span}.{suf}"] = (
                median(m.get(span, {}).get(suf, 0.0) for m in per_iter),
                units[suf],
            )
    for k, v in kernel_rates(wl, inputs).items():
        out[k] = (v, "1/s")
    jobs_per_round, listing_calls, listing_s, written = [], [], [], []
    for it in traced:
        spans = it["spans"]
        kids = {}
        for sp in spans:
            kids.setdefault(sp["parent"], []).append(sp)

        def n_jobs(sp):
            return len(sp.get("jobs", [])) + sum(n_jobs(c) for c in kids.get(sp["id"], []))

        jobs_per_round += [n_jobs(sp) for sp in spans if sp["name"] == "crawl.run_round"]
        lst = [sp for sp in spans if sp["name"].startswith("tables.")]
        listing_calls.append(len(lst))
        listing_s.append(sum(sp["end"] - sp["start"] for sp in lst))
        written.append(
            sum(
                j["out"]
                for sp in spans
                if sp["name"] != "fetcher.prepare_colocated_fetcher"
                for j in sp.get("jobs", [])
            )
        )
    obs = tracer.observed()
    n_traced = max(1, len(traced))
    probed = obs.get("seen.bloom.probed", 0) / n_traced
    cleared = obs.get("seen.bloom.cleared", 0) / n_traced
    out.update(
        {
            "crawl.rounds": (median(it["rounds"] for it in traced), "count"),
            "crawl.jobs_per_round": (median(jobs_per_round), "count"),
            "politeness.round_efficiency": (
                median(exp.min_rounds / it["rounds"] for it in traced),
                "ratio",
            ),
            "fetcher.ok_per_attempt": (median(it["ok_per_attempt"] for it in traced), "ratio"),
            "seen.probed": (probed, "count"),
            "seen.bloom_cleared": (cleared, "count"),
            "seen.admitted": (obs.get("seen.admitted", 0) / n_traced, "count"),
            "seen.cleared_per_probed": (cleared / probed if probed else 0.0, "ratio"),
            "tables.listing_calls": (median(listing_calls), "count"),
            "tables.listing_s": (median(listing_s), "s"),
            "tables.bytes_written": (median(written), "bytes"),
            "dedup.dupes_dropped": (
                median(it["archive"]["dupes_dropped"] for it in traced) if wl.archive else 0,
                "count",
            ),
            "parser.fallbacks": (
                median(it["archive"]["parse_fallbacks"] for it in traced) if wl.archive else 0,
                "count",
            ),
            "archive_pages_per_s": (
                median(it["archive"]["parsed"] / it["archive_s"] for it in traced)
                if wl.archive
                else 0.0,
                "1/s",
            ),
            "trace.overhead_pct": (
                100.0
                * (
                    median(it["crawl_s"] for it in traced)
                    / median(it["crawl_s"] for it in untraced)
                    - 1.0
                ),
                "%",
            ),
        }
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
