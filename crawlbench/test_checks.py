"""Tests of the benchmark's independent checks.

    python3 -m pytest crawlbench -q

The first group exercises the plain-Python expectations alone; the
second crawls a tiny web for each workload with the real engine, checks
that a correct crawl passes, and that a corrupted cache is caught.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from crawlbench import expect as E  # noqa: E402


def _robots_rows(n_hosts: int) -> list[dict]:
    rows = []
    for h in range(n_hosts):
        host = f"host{h}.test"
        rows.append(
            {
                "host": host,
                "directive": "disallow",
                "path_pattern": "/private/*",
                "crawl_delay": 2.0 if h % 7 == 0 else None,
            }
        )
        if h % 3 == 0:
            rows.append(
                {
                    "host": host,
                    "directive": "allow",
                    "path_pattern": "/private/ok*",
                    "crawl_delay": None,
                }
            )
    return rows


# ------------------------------------------------------- plain Python
@pytest.mark.parametrize(
    "status, ia, flaky, want",
    [
        (200, None, False, (200, 1, "origin")),
        (200, None, True, (200, 2, "origin")),
        (404, None, False, (404, 1, "origin")),
        (403, None, True, (403, 1, "origin")),
        (500, None, False, (500, 3, "origin")),
        (404, 200, False, (200, 2, "archive")),
        (500, 200, False, (200, 4, "archive")),
    ],
)
def test_fetch_policy(status, ia, flaky, want):
    assert E.expected_fetch(status, ia, flaky) == want


def test_missing_url_is_a_connection_failure():
    assert E.expected_fetch(None, None, False, in_store=False) == (None, 3, "origin")


def test_robots_longest_match_and_allow_ties():
    r = E.Robots.from_rows(_robots_rows(4))
    assert r.allowed("https://host1.test/docs/1", "host1.test")
    assert not r.allowed("https://host1.test/private/5", "host1.test")
    assert not r.allowed("https://host1.test/private/ok1", "host1.test")
    assert r.allowed("https://host3.test/private/ok1", "host3.test")
    assert not r.allowed("https://host3.test/private/5", "host3.test")
    # no robots row for the host → allowed
    assert r.allowed("https://host9.test/private/5", "host9.test")


def test_budgets_from_robots_rows():
    r = E.Robots.from_rows(
        _robots_rows(2)
        + [{"host": "slow.test", "directive": None, "path_pattern": "", "crawl_delay": 30.0}]
    )
    assert r.budget("host0.test", 10.0, 2.0) == (5, 1)  # crawl-delay 2 s
    assert r.budget("host1.test", 10.0, 2.0) == (20, 1)
    assert r.budget("slow.test", 10.0, 2.0) == (1, 3)
    assert r.budget("unknown.test", 10.0, 2.0) == (20, 1)


def _page(url, status=200, ia=None, flaky=False, links=(), image_id=None):
    return E.Page(url, E.host_of(url), status, ia, flaky, image_id, list(links))


def test_closure_follows_only_2xx_pages_and_robots():
    a, b, c, d, p = (
        "https://host1.test/docs/0",
        "https://host1.test/docs/1",
        "https://host1.test/docs/2",
        "https://host2.test/docs/0",
        "https://host1.test/private/5",
    )
    pages = {
        a: _page(a, links=[b, p, d]),
        b: _page(b, status=404, links=[c]),  # not followed: 404, no archive
        d: _page(d, status=404, ia=200, links=[c]),  # archive copy is 2xx
        c: _page(c),
    }
    got = E.attempted_closure([a], pages, E.Robots.from_rows(_robots_rows(3)), 10)
    assert got == {a: 0, b: 1, d: 1, c: 2}


def _cache_rows(att, pages, per_round=100):
    rows = []
    for n, u in enumerate(sorted(att)):
        p = pages[u]
        status, attempts, source = E.expected_fetch(p.status, p.ia_status, p.flaky)
        rows.append(
            {
                "url": u,
                "host": p.host,
                "status": status,
                "attempts": attempts,
                "source": source,
                "fetched_round": n // per_round,
                "image_ok": None if p.image_id is None else p.image_id != "bad",
            }
        )
    return rows


def test_check_cache_counts_each_fault_once():
    robots = E.Robots.from_rows(_robots_rows(2))
    urls = [f"https://host1.test/docs/{i}" for i in range(6)]
    pages = {
        u: _page(u, status=500 if i == 2 else 200, image_id="bad" if i == 3 else f"i{i}")
        for i, u in enumerate(urls)
    }
    att = E.attempted_fixed(urls, {u: "host1.test" for u in urls}, robots)
    good = _cache_rows(att, pages)
    args = (att, pages, robots, 10.0, 2.0)
    assert E.check_cache(good, *args, corrupted=frozenset({"bad"})).failed == 0

    bad = [dict(r) for r in good]
    bad[0]["attempts"] = 2  # wrong retry count
    bad[3]["image_ok"] = True  # truncated payload passed validation
    del bad[5]  # missing URL
    bad.append(dict(bad[1]))  # duplicated URL
    v = E.check_cache(bad, *args, corrupted=frozenset({"bad"}))
    assert v.failed == 4
    assert v.problems == {
        "status_attempts_source": 1,
        "image_verdict": 1,
        "missing": 1,
        "duplicated": 1,
    }


def test_check_cache_flags_over_budget_rounds():
    robots = E.Robots.from_rows(_robots_rows(1))  # host0: crawl-delay → 5/round
    urls = [f"https://host0.test/docs/{i}" for i in range(8)]
    pages = {u: _page(u) for u in urls}
    att = E.attempted_fixed(urls, {u: "host0.test" for u in urls}, robots)
    assert E.min_rounds(att, robots, 10.0, 2.0) == 2
    v = E.check_cache(_cache_rows(att, pages, per_round=8), att, pages, robots, 10.0, 2.0)
    assert v.problems == {"over_budget": 3}


def test_archive_survivors_and_checks():
    import hashlib

    urls = [f"https://host0.test/{('docs', 'blog', 'wiki')[i % 3]}/{i}" for i in range(10)]
    pages = {u: _page(u) for u in urls}
    att = {u: 0 for u in urls}
    surv = E.expected_archive(att, pages)
    # page 8 declares page 6 canonical; the smaller URL of the pair wins
    assert E.declared_canonical(urls[8]) == urls[6]
    assert len(surv) == 9 and min(urls[6], urls[8]) in surv

    def row(u, title=None, content="text"):
        h, i = E.page_index(u)
        return {
            "url": u,
            "canonical_url": surv[u],
            "title": title or f"Page {h}-{i}",
            "content": content,
            "content_hash": hashlib.blake2s(content.encode()).hexdigest(),
        }

    rows = [row(u) for u in surv]
    assert E.check_archive(rows, surv).failed == 0
    rows[0] = row(rows[0]["url"], title="wrong")
    rows[1]["content_hash"] = "0" * 64
    assert E.check_archive(rows, surv).problems == {"parsed_wrong": 2}


# ------------------------------------------------ tiny crawls in Spark
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from crawlbench import env

    extra = env.pin(ROOT, str(tmp_path_factory.mktemp("crawlbench")))
    from netrunner_spark.session import get_spark

    return get_spark("crawlbench-tests", master="local[2]", shuffle_partitions=2, extra=extra)


def _tiny(kind: str):
    from crawlbench import workloads as W

    if kind == "drain_pairs":

        class Tiny(W.DrainPairs):
            n_hosts, pages_per_host, round_seconds, corrupt_every = 8, 24, 10.0, 10

    elif kind == "crawl_html":

        class Tiny(W.CrawlHtml):
            n_hosts, pages_per_host, n_paragraphs = 6, 60, 2

    else:

        class Tiny(W.CrawlExpand):
            n_hosts, pages_per_host = 8, 15

    return Tiny()


def _crawl(spark, kind, tmp_path, seed=5):
    from crawlbench import run

    wl = _tiny(kind)
    inputs = wl.generate(spark, seed, str(tmp_path / "inputs"))
    exp = wl.expectation(inputs, seed)
    lake = str(tmp_path / "lake")
    it = run.crawl_once(spark, wl, inputs, exp, lake, cores=2)
    return wl, exp, lake, it


@pytest.mark.parametrize("kind", ["drain_pairs", "crawl_html", "crawl_expand"])
def test_tiny_crawl_passes_checks(spark, tmp_path, kind):
    from crawlbench import run

    wl, exp, lake, it = _crawl(spark, kind, tmp_path)
    v = it["verdict"]
    assert v.failed == 0, dict(v.problems)
    assert v.attempted == exp.operations > 0
    if kind == "drain_pairs":
        _, rows = run.check_outputs(spark, lake, wl, exp, None)
        rejected = {r["url"] for r in rows if r["image_ok"] is False}
        want = {u for u in exp.attempted if exp.pages[u].image_id in exp.corrupted}
        assert rejected == want and want
    if kind == "crawl_expand":
        # the closure reaches beyond the seeds
        assert len(exp.attempted) > wl.n_hosts


def test_corrupted_cache_is_caught(spark, tmp_path):
    """Rewrite one committed cache slice with one row's status changed
    and another row dropped: both must count as failed."""
    from pyspark.sql import functions as F

    from crawlbench import run

    wl, exp, lake, it = _crawl(spark, "drain_pairs", tmp_path)
    assert it["verdict"].failed == 0
    slice_dir = os.path.join(lake, "cache", "data", "fetched_round=0")
    df = spark.read.parquet(slice_dir)
    urls = sorted(r["url"] for r in df.select("url").collect())
    broken = df.filter(F.col("url") != urls[0]).withColumn(
        "status",
        F.when(F.col("url") == urls[1], F.lit(503)).otherwise(F.col("status")),
    )
    tmp_copy = str(tmp_path / "broken")
    broken.write.parquet(tmp_copy)
    spark.read.parquet(tmp_copy).write.mode("overwrite").parquet(slice_dir)
    v, _ = run.check_outputs(spark, lake, wl, exp, None)
    assert v.failed == 2
    assert v.problems == {"missing": 1, "status_attempts_source": 1}
