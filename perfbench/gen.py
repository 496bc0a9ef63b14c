"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. The program under test only ever sees the files
written here; the oracles in :mod:`perfbench.oracles` read the
in-memory arrays these functions return, never the program's outputs.
The constants below each generator set its make-up; ``perfbench/README.md``
describes the inputs they give.

- :func:`crawl_pages`: a Common-Crawl-style pages table
  ``(url, warc_ts, html, text, lang)``. Out-degree follows a truncated
  power law, targets are drawn with a power bias toward low page
  indices (hub pages heavy in in-degree), about 8% of pages carry no
  links at all (dangling), raw links repeat (hub targets are drawn more
  than once, and half the linking pages repeat their first link in a
  footer, so dedup does real work) and one in ten carries a
  ``#fragment`` suffix that extraction strips.
- :func:`site_graph`: an already id-mapped directed edge table over
  pages grouped into heavy-tailed (Pareto) sites. Pages link densely
  within their site (three in-site links each, home page to its first
  eight pages, 30% of pages back to home), a quarter of the sites are
  chained by pagination (page j -> page j+1), 15% of sites are isolated,
  and half the pages of the other sites link to another site's home
  page, picked in proportion to site size.
- :func:`crawl_drops`: a base crawl drop followed by one small edge-delta
  drop. The delta adds new pages and new links, merges components of
  the base graph, repeats some of its own links and, as a recrawl does,
  re-sends links the base drop already had.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_US = 1_600_000_000 * 1_000_000
_LANGS = ("en", "de", "fr")
_WORDS = np.array(
    "crawl index page link graph rank site home news blog archive data "
    "search web node edge table query result shop list item".split())


# --------------------------------------------------------------------------
# crawl-rank: pages table
# --------------------------------------------------------------------------

@dataclass
class CrawlPages:
    n_pages: int
    urls: np.ndarray          # object array of page urls, index = page id
    raw_src: np.ndarray       # raw link list (duplicates kept), page ids
    raw_dst: np.ndarray

    def distinct_links(self) -> pd.DataFrame:
        """The generator's distinct (src_url, dst_url) link set."""
        pairs = np.unique(np.stack([self.raw_src, self.raw_dst], axis=1), axis=0)
        return pd.DataFrame({"src_url": self.urls[pairs[:, 0]],
                             "dst_url": self.urls[pairs[:, 1]]})


def page_url(i: int) -> str:
    return f"https://site{i % 211}.example.com/p/{i}"


def _spread(rng, n: int) -> np.ndarray:
    """``n`` stratified uniforms ``(i + 0.5) / n`` in seeded random order:
    every seed draws the same multiset of values, so input sizes and
    degree distributions do not change with the seed -- only which page
    gets which value, and the link targets, do."""
    return (rng.permutation(n) + 0.5) / n


def _exactly(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly ``round(share * n)`` seeded picks."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[:round(share * n)]] = True
    return mask


PAGES_MAX_DEGREE = 64       # out-degree is a power law on [1, 64]
PAGES_HUB_POWER = 2.5       # link target = floor(n * u ** 2.5)
PAGES_DANGLING_SHARE = 0.08


def crawl_pages(seed: int, n_pages: int) -> CrawlPages:
    rng = np.random.default_rng([seed, 1])
    u = _spread(rng, n_pages)
    deg = np.floor(np.exp(u * np.log(PAGES_MAX_DEGREE))).astype(np.int64)
    # the hub pages (lowest 1% of indices, heavy in in-degree) link out
    # fully and are never dangling, as site home pages do: without this
    # the seed decides whether the top hub leaks its rank, and with it
    # how many supersteps PageRank needs
    hubs = max(1, n_pages // 100)
    deg[:hubs] = PAGES_MAX_DEGREE
    dangling = np.zeros(n_pages, dtype=bool)
    dangling[hubs:] = _exactly(rng, n_pages - hubs, PAGES_DANGLING_SHARE
                               * n_pages / (n_pages - hubs))
    deg[dangling] = 0
    src = np.repeat(np.arange(n_pages, dtype=np.int64), deg)
    dst = np.floor(n_pages * rng.random(src.size) ** PAGES_HUB_POWER
                   ).astype(np.int64)
    dst = np.minimum(dst, n_pages - 1)
    dst = np.where(dst == src, (dst + 1) % n_pages, dst)   # no self-links
    # a page with a single link links to a hub page: two such pages
    # linking to each other would form a closed 2-cycle that holds its
    # rank error and sets the superstep count by itself
    single = deg[src] == 1
    dst[single] = rng.integers(0, hubs, int(single.sum()))
    # half the linking pages repeat their first link in a footer
    first = np.searchsorted(src, np.flatnonzero(deg > 0))
    footer = first[_exactly(rng, first.size, 0.5)]
    order = np.argsort(np.concatenate([src, src[footer]]), kind="stable")
    src = np.concatenate([src, src[footer]])[order]
    dst = np.concatenate([dst, dst[footer]])[order]
    urls = np.array([page_url(i) for i in range(n_pages)], dtype=object)
    return CrawlPages(n_pages, urls, src, dst)


def write_pages(pages: CrawlPages, path: str, seed: int) -> None:
    """Write the pages table as one parquet file."""
    rng = np.random.default_rng([seed, 2])
    n = pages.n_pages
    frag = rng.random(pages.raw_src.size) < 0.1
    words = _WORDS[rng.integers(0, _WORDS.size, size=(n, 6))]
    starts = np.searchsorted(pages.raw_src, np.arange(n + 1))
    html, text = [], []
    for i in range(n):
        lo, hi = starts[i], starts[i + 1]
        body = " ".join(words[i])
        anchors = "".join(
            f'<a class="l" href="{pages.urls[t]}{"#s" if f else ""}">{k}</a>'
            for k, (t, f) in enumerate(zip(pages.raw_dst[lo:hi].tolist(),
                                           frag[lo:hi].tolist())))
        text.append(body)
        html.append(
            f"<html><head><title>page {i}</title></head><body><p>{body}</p>"
            f"<div>{anchors}</div></body></html>".encode())
    table = pa.table({
        "url": pa.array(pages.urls.tolist(), pa.string()),
        "warc_ts": pa.array(_EPOCH_US + np.arange(n, dtype=np.int64) * 1_000_000,
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([_LANGS[i % 3] for i in range(n)], pa.string()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# site-communities: site-clustered id-mapped edge table
# --------------------------------------------------------------------------

@dataclass
class SiteGraph:
    n: int
    src: np.ndarray
    dst: np.ndarray


SITE_IN_SITE_LINKS = 3      # random in-site links per page
SITE_ISOLATED_SHARE = 0.15  # sites with no cross-site links
SITE_PAGINATED_SHARE = 0.25 # sites chained page j -> j+1
SITE_CROSS_SHARE = 0.5      # pages of open sites linking to another home
SITE_HOME_SHARE = 0.3       # pages linking back to their home page
SITE_MAX_PAGES = 400


def site_graph(seed: int, n_target: int) -> SiteGraph:
    """The constants above give an average clustering coefficient of
    about 0.26."""
    rng = np.random.default_rng([seed, 3])
    # heavy-tailed (Pareto) site sizes at stratified quantiles: the same
    # multiset of sizes for every seed, in seeded order
    n_sites = 1
    while True:
        u = (np.arange(n_sites) + 0.5) / n_sites
        sizes = np.minimum(SITE_MAX_PAGES, 3 + np.floor(
            6 * ((1 - u) ** (-1 / 1.3) - 1))).astype(np.int64)
        if sizes.sum() >= n_target:
            break
        n_sites += 1
    sizes = sizes[rng.permutation(n_sites)]
    base = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    n = int(sizes.sum())
    site_of = np.repeat(np.arange(n_sites), sizes)
    isolated = _exactly(rng, n_sites, SITE_ISOLATED_SHARE)
    paginated = _exactly(rng, n_sites, SITE_PAGINATED_SHARE)

    pid = np.arange(n, dtype=np.int64)
    home = base[site_of]
    s_of = sizes[site_of]
    srcs, dsts = [], []
    # a share of the non-home pages link back to their home page
    nh = pid != home
    back = nh & _exactly(rng, n, SITE_HOME_SHARE)
    srcs.append(pid[back])
    dsts.append(home[back])
    # dense in-site links: each page links to k random pages of its site
    k = np.minimum(s_of - 1, SITE_IN_SITE_LINKS)
    rep = np.repeat(pid, k)
    off = rng.integers(1, np.repeat(s_of, k))
    srcs.append(rep)
    dsts.append(home[rep] + (rep - home[rep] + off) % np.repeat(s_of, k))
    # home links to up to 8 pages of its site
    for h, s in zip(base.tolist(), sizes.tolist()):
        m = min(s - 1, 8)
        srcs.append(np.full(m, h, dtype=np.int64))
        dsts.append(h + 1 + np.arange(m, dtype=np.int64))
    # pagination chains (page j -> j+1) inside paginated sites
    chain = paginated[site_of] & (pid + 1 < home + s_of) & nh
    srcs.append(pid[chain])
    dsts.append(pid[chain] + 1)
    # cross-site links to home pages of other (non-isolated) sites, home
    # chosen in proportion to site size
    open_sites = np.flatnonzero(~isolated)
    cross = (~isolated[site_of]) & _exactly(rng, n, SITE_CROSS_SHARE)
    w = sizes[open_sites].astype(np.float64)
    tgt_site = rng.choice(open_sites, size=int(cross.sum()), p=w / w.sum())
    srcs.append(pid[cross])
    dsts.append(base[tgt_site])
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return SiteGraph(n, pairs[:, 0].copy(), pairs[:, 1].copy())


def write_edges(src: np.ndarray, dst: np.ndarray, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"src": pa.array(src, pa.int64()),
                             "dst": pa.array(dst, pa.int64())}), path)


def write_vertices(n: int, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(np.arange(n), pa.int64())}), path)


# --------------------------------------------------------------------------
# crawl-deltas: base drop + one edge-delta drop
# --------------------------------------------------------------------------

@dataclass
class CrawlDrops:
    drops: list[tuple[np.ndarray, np.ndarray]]   # raw (src, dst) per drop

    def new_distinct(self) -> list[int]:
        """Per drop, the number of distinct edges no earlier drop had."""
        seen: set[tuple[int, int]] = set()
        out = []
        for s, d in self.drops:
            cur = set(zip(s.tolist(), d.tolist()))
            out.append(len(cur - seen))
            seen |= cur
        return out

    def union(self) -> tuple[np.ndarray, np.ndarray]:
        s = np.concatenate([d[0] for d in self.drops])
        d = np.concatenate([d[1] for d in self.drops])
        pairs = np.unique(np.stack([s, d], axis=1), axis=0)
        return pairs[:, 0].copy(), pairs[:, 1].copy()


DROPS_CLUSTERS = 40         # disconnected clusters in the base drop
DROPS_MAX_DEGREE = 24
DROPS_DANGLING_SHARE = 0.08
DELTA_NEW_EDGES = 60        # new distinct edges in the delta drop
DELTA_NEW_PAGES = 8         # pages the delta adds
DELTA_REPEATS = 6           # of its new links, sent twice in the delta
DELTA_RESENT = 6            # base-drop links the delta sends again


def crawl_drops(seed: int, n_base: int) -> CrawlDrops:
    """Base drop: ``DROPS_CLUSTERS`` disconnected power-law crawl
    clusters; each cluster's first page links to its second. Delta:
    ``DELTA_NEW_EDGES`` new links, half among existing pages (many
    bridging two clusters), half from new pages into the graph. The
    delta sends ``DELTA_REPEATS`` of them twice and re-sends the
    first-to-second-page links of the first ``DELTA_RESENT`` clusters,
    which the base drop of every seed holds."""
    rng = np.random.default_rng([seed, 4])
    cl = np.arange(n_base) * DROPS_CLUSTERS // n_base
    starts = np.searchsorted(cl, np.arange(DROPS_CLUSTERS + 1))
    deg = np.floor(np.exp(_spread(rng, n_base) * np.log(DROPS_MAX_DEGREE))
                   ).astype(np.int64)
    deg[_exactly(rng, n_base, DROPS_DANGLING_SHARE)] = 0
    src = np.repeat(np.arange(n_base, dtype=np.int64), deg)
    c = cl[src]
    lo, size = starts[c], starts[c + 1] - starts[c]
    dst = lo + np.floor(size * rng.random(src.size) ** 2.0).astype(np.int64)
    entry = starts[:-1]
    src = np.concatenate([src, entry])
    dst = np.concatenate([dst, entry + 1])
    seen = set(zip(src.tolist(), dst.tolist()))
    ds: list[int] = []
    dd: list[int] = []
    while len(ds) < DELTA_NEW_EDGES:
        if len(ds) % 2 == 0:
            s, d = (int(x) for x in rng.integers(0, n_base, 2))
        else:
            s = n_base + int(rng.integers(0, DELTA_NEW_PAGES))
            d = int(rng.integers(0, n_base))
        if s == d or (s, d) in seen:
            continue
        seen.add((s, d))
        ds.append(s)
        dd.append(d)
    ds += ds[:DELTA_REPEATS] + entry[:DELTA_RESENT].tolist()
    dd += dd[:DELTA_REPEATS] + (entry[:DELTA_RESENT] + 1).tolist()
    delta = (np.array(ds, dtype=np.int64), np.array(dd, dtype=np.int64))
    return CrawlDrops([(src, dst), delta])


def write_drops(drops: CrawlDrops, directory: str) -> None:
    """One parquet file per drop, modification times in arrival order."""
    os.makedirs(directory, exist_ok=True)
    t0 = 1_600_000_000
    for k, (s, d) in enumerate(drops.drops):
        path = os.path.join(directory, f"drop-{k:03d}.parquet")
        write_edges(s, d, path)
        os.utime(path, (t0 + 60 * k, t0 + 60 * k))
