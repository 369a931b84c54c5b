"""The benchmark's three closed-loop batch crawls over ``synth.py``'s
deterministic synthetic web.

Each workload generates its inputs from the seed (page content, image
pixels and the corrupted-image set follow the seed; host sizes and link
structure do not, so every seed drains in the same number of rounds),
persists them once as parquet, and hands the crawl engine the same
DataFrames on every iteration. All three use the co-located, bucketed
fetch store (``prepare_colocated_fetcher``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlbench import expect as E

@dataclass
class Inputs:
    web: DataFrame
    images: DataFrame | None
    robots: DataFrame
    frontier: DataFrame


@dataclass
class Expectation:
    pages: dict[str, E.Page]
    robots: E.Robots
    attempted: dict[str, int]
    min_rounds: int
    corrupted: frozenset[str] | None = None
    survivors: dict[str, str] = field(default_factory=dict)

    @property
    def operations(self) -> int:
        return len(self.attempted) + len(self.survivors)


def _persist(df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _page_idx():
    return F.regexp_extract("url", r"/(\d+)$", 1).cast("int")


def _host_idx():
    return F.regexp_extract("host", r"^host(\d+)\.", 1).cast("int")


class Workload:
    name = ""
    rps = 2.0
    n_hosts = 0
    pages_per_host = 0
    round_seconds = 10.0
    follow_links = False
    max_depth = 3
    archive = False
    validates_images = False

    def config(self, cores: int):
        from netrunner_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            rps=self.rps,
            round_seconds=self.round_seconds,
            max_rounds=10_000,
            follow_links=self.follow_links,
            max_depth=self.max_depth,
            colocated_buckets=cores,
        )

    def generate(self, spark: SparkSession, seed: int, root: str) -> Inputs:
        raise NotImplementedError

    def _collect_pages(self, web: DataFrame, with_links: bool) -> dict[str, E.Page]:
        cols = ["url", "host", "status", "ia_status", "flaky_once", "image_id"]
        if with_links:
            cols.append("links")
        out = {}
        for r in web.select(*cols).toLocalIterator():
            out[r["url"]] = E.Page(
                r["url"],
                r["host"],
                r["status"],
                r["ia_status"],
                bool(r["flaky_once"]),
                r["image_id"],
                list(r["links"]) if with_links else [],
            )
        return out

    def expectation(self, inputs: Inputs, seed: int) -> Expectation:
        raise NotImplementedError


class DrainPairs(Workload):
    """Fixed frontier over the image+caption pair store, uniform hosts,
    every page carrying an image payload; a seed-chosen set of payloads
    is truncated so decode fails for exactly those rows."""

    name = "drain_pairs"
    n_hosts = 48
    pages_per_host = 96
    # budgets 48 (12 on crawl-delay hosts): two full rounds, then six
    # rounds of crawl-delay hosts only, so the median round is a
    # crawl-delay round
    round_seconds = 24.0
    validates_images = True
    corrupt_every = 97  # one payload in ~97 is truncated

    def corrupted(self, seed: int) -> frozenset[str]:
        rng = random.Random(f"corrupt-{seed}")
        ids = [
            f"img-{h}-{i}"
            for h in range(self.n_hosts)
            for i in range(self.pages_per_host)
        ]
        return frozenset(rng.sample(ids, len(ids) // self.corrupt_every))

    def generate(self, spark, seed, root):
        from netrunner_spark.synth import gen_images, gen_pair_web, gen_robots
        from netrunner_spark.urlnorm import url_hash_col

        web = _persist(
            gen_pair_web(spark, self.n_hosts, self.pages_per_host, seed),
            os.path.join(root, "web"),
        )
        bad = sorted(self.corrupted(seed))
        images = gen_images(
            spark, self.n_hosts, self.pages_per_host, seed, dense=True
        ).withColumn(
            "bytes",
            F.when(
                F.col("image_id").isin(bad),
                F.expr("substring(bytes, 1, length(bytes) - 7)"),
            ).otherwise(F.col("bytes")),
        )
        images = _persist(images, os.path.join(root, "images"))
        frontier = web.select("url", "host", url_hash_col("url").alias("url_hash"))
        return Inputs(web, images, gen_robots(spark, self.n_hosts), frontier)

    def expectation(self, inputs, seed):
        pages = self._collect_pages(inputs.web, with_links=False)
        robots = E.Robots.from_rows(inputs.robots.collect())
        att = E.attempted_fixed(list(pages), {u: p.host for u, p in pages.items()}, robots)
        return Expectation(
            pages,
            robots,
            att,
            E.min_rounds(att, robots, self.round_seconds, self.rps),
            corrupted=self.corrupted(seed),
        )


class CrawlHtml(Workload):
    """Fixed frontier of HTML pages (one in five with an image); host
    sizes follow a Zipf law (host ``h`` has rank ``(h - 1) mod H``, so
    host 1 is the hot host and crawl-delay hosts are mid-sized); the
    drain is followed by ``archive_stage``."""

    name = "crawl_html"
    n_hosts = 16
    pages_per_host = 160  # the hot host's size; rank r gets 160 // (r + 1)
    min_pages = 4
    n_paragraphs = 16  # ~12 KB pages
    round_seconds = 20.0
    archive = True
    validates_images = True

    def host_sizes(self) -> dict[int, int]:
        return {
            h: max(self.min_pages, self.pages_per_host // (((h - 1) % self.n_hosts) + 1))
            for h in range(self.n_hosts)
        }

    def generate(self, spark, seed, root):
        from netrunner_spark.synth import gen_images, gen_robots, gen_web
        from netrunner_spark.urlnorm import url_hash_col

        sizes = spark.createDataFrame(
            sorted(self.host_sizes().items()), "h int, n_pages int"
        )
        web = gen_web(
            spark, self.n_hosts, self.pages_per_host, seed, self.n_paragraphs
        )
        web = (
            web.join(F.broadcast(sizes), _host_idx() == F.col("h"))
            .filter(_page_idx() < F.col("n_pages"))
            .drop("h", "n_pages")
        )
        web = _persist(web, os.path.join(root, "web"))
        refs = web.select("image_id").filter(F.col("image_id").isNotNull())
        images = gen_images(spark, self.n_hosts, self.pages_per_host, seed).join(
            F.broadcast(refs), "image_id"
        )
        images = _persist(images, os.path.join(root, "images"))
        frontier = web.select("url", "host", url_hash_col("url").alias("url_hash"))
        return Inputs(web, images, gen_robots(spark, self.n_hosts), frontier)

    def expectation(self, inputs, seed):
        pages = self._collect_pages(inputs.web, with_links=False)
        robots = E.Robots.from_rows(inputs.robots.collect())
        att = E.attempted_fixed(list(pages), {u: p.host for u, p in pages.items()}, robots)
        return Expectation(
            pages,
            robots,
            att,
            E.min_rounds(att, robots, self.round_seconds, self.rps),
            corrupted=frozenset(),
            survivors=E.expected_archive(att, pages),
        )


class CrawlExpand(Workload):
    """Seeds only (page 9 of every host, whose origin copy is a 404 the
    archive serves), links followed until the reachable web is
    exhausted; no image store. With 15 pages per host the closure is
    87% of the web, three link hops deep."""

    name = "crawl_expand"
    n_hosts = 30
    pages_per_host = 15
    seed_page = 9
    round_seconds = 40.0
    follow_links = True
    max_depth = 64

    def generate(self, spark, seed, root):
        from netrunner_spark.synth import gen_robots, gen_web
        from netrunner_spark.urlnorm import url_hash_col

        web = _persist(
            gen_web(spark, self.n_hosts, self.pages_per_host, seed),
            os.path.join(root, "web"),
        )
        frontier = web.filter(_page_idx() == self.seed_page).select(
            "url", "host", url_hash_col("url").alias("url_hash")
        )
        return Inputs(web, None, gen_robots(spark, self.n_hosts), frontier)

    def expectation(self, inputs, seed):
        pages = self._collect_pages(inputs.web, with_links=True)
        robots = E.Robots.from_rows(inputs.robots.collect())
        seeds = [r["url"] for r in inputs.frontier.select("url").collect()]
        att = E.attempted_closure(seeds, pages, robots, self.max_depth)
        return Expectation(
            pages, robots, att, E.min_rounds(att, robots, self.round_seconds, self.rps)
        )


WORKLOADS = {w.name: w for w in (DrainPairs(), CrawlHtml(), CrawlExpand())}
