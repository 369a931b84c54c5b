"""Expected crawl outputs, computed apart from the program.

Everything here is plain Python over the generated inputs (per-page
status / archive status / flaky flag / links, and the robots rows) and
the reference crawl policy:

* fetch: origin first; 2xx is served at once (a flaky page costs one
  retry); 403/404 are terminal after one try; other failures use the
  whole budget of 3 tries; an origin failure falls back to the archive
  copy, which costs one more try; a URL absent from the store is a
  connection failure (status NULL, 3 tries).
* robots: longest matching pattern wins, allow wins ties, no match
  means allowed (REP).
* politeness: a host gets ``floor(round_seconds / max(crawl_delay,
  1/rps))`` fetches per round (at least 1), every
  ``ceil(max(crawl_delay, 1/rps) / round_seconds)``-th round.
* canonical dedup keeps, per canonical URL, the smallest page URL.

Nothing here imports the crawl engine; the tests in this directory
check these rules on a tiny web, including a corrupted cache.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

RETRY_BUDGET = 3
TERMINAL = (403, 404)


def _ok(status: int | None) -> bool:
    return status is not None and 200 <= status <= 299


def expected_fetch(
    status: int | None, ia_status: int | None, flaky: bool, in_store: bool = True
) -> tuple[int | None, int, str]:
    """→ (final status, attempts, source) for one URL."""
    if not in_store:
        return None, RETRY_BUDGET, "origin"
    if _ok(status):
        return status, 2 if flaky else 1, "origin"
    origin_tries = 1 if status in TERMINAL else RETRY_BUDGET
    if _ok(ia_status):
        return ia_status, origin_tries + 1, "archive"
    return status, origin_tries, "origin"


def url_path(url: str) -> str:
    m = re.match(r"^[a-z]+://[^/]+", url)
    path = url[m.end():] if m else url
    return path or "/"


def _rep_regex(pattern: str) -> re.Pattern:
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in body.split("*"))
    return re.compile("^" + rx + ("$" if anchored else ""))


@dataclass
class Robots:
    """Per-host rules from the robots rows
    (host, directive, path_pattern, crawl_delay)."""

    rules: dict[str, list[tuple[int, bool, re.Pattern]]] = field(default_factory=dict)
    delay: dict[str, float | None] = field(default_factory=dict)

    @classmethod
    def from_rows(cls, rows) -> "Robots":
        out = cls()
        for r in rows:
            host = r["host"]
            d = r["crawl_delay"]
            prev = out.delay.get(host)
            out.delay[host] = d if prev is None else (prev if d is None else max(prev, d))
            if r["directive"] is None:
                continue
            pat = r["path_pattern"]
            out.rules.setdefault(host, []).append(
                (len(pat), r["directive"] == "allow", _rep_regex(pat))
            )
        return out

    def allowed(self, url: str, host: str) -> bool:
        path = url_path(url)
        best = None
        for spec, is_allow, rx in self.rules.get(host, ()):
            if rx.match(path):
                cand = (spec, is_allow)
                best = cand if best is None or cand > best else best
        return best is None or best[1]

    def budget(self, host: str, round_seconds: float, rps: float) -> tuple[int, int]:
        """→ (fetches per scheduled round, round stride)."""
        if host not in self.delay:
            return max(1, int(round_seconds * rps)), 1
        eff = max(self.delay[host] or 0.0, 1.0 / rps)
        return (
            max(1, math.floor(round_seconds / eff)),
            max(1, math.ceil(eff / round_seconds)),
        )


@dataclass
class Page:
    """One generated page store row (content left out)."""

    url: str
    host: str
    status: int
    ia_status: int | None
    flaky: bool
    image_id: str | None
    links: list[str] = field(default_factory=list)


def attempted_fixed(frontier: list[str], hosts: dict[str, str], robots: Robots) -> dict[str, int]:
    """Fixed frontier → {url: depth} of URLs the crawl must fetch."""
    return {u: 0 for u in frontier if robots.allowed(u, hosts[u])}


def host_of(url: str) -> str:
    m = re.match(r"^[a-z]+://([^/]+)", url)
    return m.group(1) if m else ""


def attempted_closure(
    seeds: list[str], pages: dict[str, Page], robots: Robots, max_depth: int
) -> dict[str, int]:
    """Breadth-first closure from the seeds over the generated links of
    pages whose final status is 2xx, robots applied → {url: depth}."""
    depth: dict[str, int] = {}
    level = []
    for u in seeds:
        if u not in depth and robots.allowed(u, host_of(u)):
            depth[u] = 0
            level.append(u)
    d = 0
    while level and d < max_depth:
        nxt = []
        for u in level:
            p = pages.get(u)
            if p is None:
                continue
            status, _, _ = expected_fetch(p.status, p.ia_status, p.flaky)
            if not _ok(status):
                continue
            for v in p.links:
                if v not in depth and robots.allowed(v, host_of(v)):
                    depth[v] = d + 1
                    nxt.append(v)
        level = nxt
        d += 1
    return depth


def min_rounds(
    attempted: dict[str, int], robots: Robots, round_seconds: float, rps: float
) -> int:
    """Fewest rounds the host budgets and strides allow: per host
    ``(ceil(n / budget) - 1) * stride + 1``, and never fewer than the
    deepest URL's depth + 1 (a link is fetched after its parent)."""
    per_host = Counter(host_of(u) for u in attempted)
    need = 0
    for host, n in per_host.items():
        budget, stride = robots.budget(host, round_seconds, rps)
        need = max(need, (math.ceil(n / budget) - 1) * stride + 1)
    return max(need, max(attempted.values(), default=-1) + 1)


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    problems: Counter = field(default_factory=Counter)

    def fail(self, kind: str, n: int = 1) -> None:
        self.failed += n
        self.problems[kind] += n


def check_cache(
    rows: list[dict],
    attempted: dict[str, int],
    pages: dict[str, Page],
    robots: Robots,
    round_seconds: float,
    rps: float,
    corrupted: frozenset[str] | None = None,
) -> Verdict:
    """Cached rows (url, host, status, attempts, source, fetched_round
    and, when the crawl validates images, image_ok) against the
    expectation. One operation per URL the crawl had to fetch; a URL
    that is missing, duplicated, unexpected, wrong in any field or
    fetched over its host's budget counts as failed once."""
    v = Verdict(attempted=len(attempted))
    by_url: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_url[r["url"]].append(r)
    bad: set[str] = set()
    for u in attempted:
        if u not in by_url:
            v.fail("missing")
    for u, rs in by_url.items():
        if u not in attempted:
            v.attempted += 1
            v.fail("unexpected")
            bad.add(u)
            continue
        if len(rs) > 1:
            v.fail("duplicated")
            bad.add(u)
            continue
        r = rs[0]
        p = pages.get(u)
        exp = (
            expected_fetch(p.status, p.ia_status, p.flaky)
            if p is not None
            else expected_fetch(None, None, False, in_store=False)
        )
        got = (r["status"], r["attempts"], r["source"])
        if got != exp:
            v.fail("status_attempts_source")
            bad.add(u)
            continue
        if corrupted is not None:
            want = None if p is None or p.image_id is None else p.image_id not in corrupted
            if r.get("image_ok") != want:
                v.fail("image_verdict")
                bad.add(u)
    # politeness: at most `budget` fetches per (host, round), and a host
    # with stride s fetches only every s-th round
    groups: dict[tuple[str, int], list[str]] = defaultdict(list)
    for r in rows:
        groups[(r["host"], r["fetched_round"])].append(r["url"])
    rounds_by_host: dict[str, list[int]] = defaultdict(list)
    for (host, rnd), urls in groups.items():
        budget, stride = robots.budget(host, round_seconds, rps)
        rounds_by_host[host].append(rnd)
        excess = [u for u in sorted(urls)[budget:] if u not in bad]
        if excess:
            v.fail("over_budget", len(excess))
            bad.update(excess)
    for host, rnds in rounds_by_host.items():
        _, stride = robots.budget(host, round_seconds, rps)
        rnds.sort()
        if stride > 1 and any(b - a < stride for a, b in zip(rnds, rnds[1:])):
            v.fail("stride")
    return v


def page_index(url: str) -> tuple[int, int]:
    """https://host{h}.test/<section>/{i} → (h, i)."""
    m = re.match(r"^https://host(\d+)\.test/[a-z]+/(\d+)$", url)
    if m is None:
        raise ValueError(f"not a synthetic page URL: {url}")
    return int(m.group(1)), int(m.group(2))


def declared_canonical(url: str) -> str:
    """The generator's canonical rule: page i with i % 10 == 8 (i >= 2)
    declares page i-2 as canonical, unless page i-2 is a /private page
    (i - 2 ≡ 5 mod 11)."""
    h, i = page_index(url)
    if i % 10 == 8 and i >= 2 and (i - 2) % 11 != 5:
        j = i - 2
        return f"https://host{h}.test/{('docs', 'blog', 'wiki')[j % 3]}/{j}"
    return url


def expected_archive(attempted: dict[str, int], pages: dict[str, Page]) -> dict[str, str]:
    """→ {surviving url: canonical url} after the 2xx filter and
    canonical dedup (smallest URL per canonical wins)."""
    groups: dict[str, list[str]] = defaultdict(list)
    for u in attempted:
        p = pages.get(u)
        if p is None:
            continue
        status, _, _ = expected_fetch(p.status, p.ia_status, p.flaky)
        if _ok(status):
            groups[declared_canonical(u)].append(u)
    return {min(us): c for c, us in groups.items()}


def check_archive(rows: list[dict], survivors: dict[str, str]) -> Verdict:
    """Parsed rows (url, canonical_url, title, content, content_hash)
    against the expected survivors: one operation per surviving page;
    title must be ``Page h-i`` and content_hash the blake2s hex of the
    parsed content."""
    v = Verdict(attempted=len(survivors))
    seen = Counter(r["url"] for r in rows)
    for u in survivors:
        if seen[u] == 0:
            v.fail("parsed_missing")
    done: set[str] = set()
    for r in rows:
        u = r["url"]
        if u not in survivors:
            v.attempted += 1
            v.fail("parsed_unexpected")
            continue
        if u in done:
            continue
        done.add(u)
        if seen[u] > 1:
            v.fail("parsed_duplicated")
            continue
        h, i = page_index(u)
        content = r["content"] or ""
        if (
            r["canonical_url"] != survivors[u]
            or r["title"] != f"Page {h}-{i}"
            or r["content_hash"] != hashlib.blake2s(content.encode("utf-8")).hexdigest()
            or not content
        ):
            v.fail("parsed_wrong")
    return v
