"""Seeded input generators owned by the benchmark.

Nothing here imports the package under test: the workloads must not move
when the program's own fixtures change. Every function is a pure function
of its arguments (numpy ``default_rng`` streams only), so one seed gives
byte-identical inputs on every run.

Two inputs:

- ``make_pages``: a Common-Crawl-style pages table ``(url, warc_ts, html,
  text, lang)``. Pages sit on Zipf-sized hub domains; 8 % are dangling (no
  anchors); anchors mix same-domain links, links to hub pages, links to
  urls outside the crawl (dropped by the url join), planted self-links
  (dropped) and planted duplicate links (deduplicated). Anchor markup
  varies (quote style, attribute order, tag case) so the href pattern is
  exercised, not just a fixed template.
- ``make_graph``: a dense-id directed edge table ``(src_id, dst_id)``
  without self-loops or duplicates, over ``n`` vertices. Vertices are
  grouped into Zipf-sized hosts; most links stay inside the host and
  favour the host's first pages, the rest go to global hubs, so in-degree
  is heavy-tailed. 8 % of vertices are dangling; small acyclic islands and
  a few isolated vertices make the other components.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# part of every cache key: bump it whenever a generator's output changes
VERSION = 1
DANGLING_FRAC = 0.08
LANGS = np.array(["en", "ja", "de", "fr", "es"])
WORDS = np.array(
    (
        "river galaxy silver node spark graph crawl page link rank star "
        "cluster vector stream shard anchor index query table column merge"
    ).split()
)
# anchor templates: {u} is the target url
ANCHORS = [
    '<a href="{u}">link</a>',
    "<a class=\"nav\" href='{u}'>more</a>",
    '<A HREF="{u}" rel="nofollow">x</A>',
    '<a\n  title="t" href="{u}">next page</a>',
]


def _zipf_sizes(rng: np.random.Generator, total: int, parts: int, s: float) -> np.ndarray:
    """Split ``total`` items into ``parts`` Zipf(s)-weighted groups, each >= 1."""
    w = 1.0 / np.arange(1, parts + 1) ** s
    sizes = np.maximum(1, np.floor(w / w.sum() * total)).astype(np.int64)
    sizes[0] += total - sizes.sum()
    return rng.permutation(sizes)


def _out_degrees(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    deg = rng.integers(lo, hi + 1, n)
    deg[rng.random(n) < DANGLING_FRAC] = 0
    return deg


def _targets(
    rng: np.random.Generator,
    src: np.ndarray,
    group_start: np.ndarray,
    group_size: np.ndarray,
    lo: int,
    hi: int,
    local_frac: float,
    hub_power: float,
) -> np.ndarray:
    """Link targets for each entry of ``src`` (vertex ids in [lo, hi)).

    Local links land in the source's group, biased towards its first
    pages; the rest go to [lo, hi) as ``lo + U**hub_power * (hi - lo)``,
    a bias towards low ids that makes the global hubs. ``src`` is grouped by source and each source's
    first link always goes to a hub: without it a small host can form a
    closed cycle, whose slow PageRank mode makes the iteration count to
    convergence swing from seed to seed."""
    m = src.size
    local = rng.random(m) < local_frac
    local[np.r_[True, src[1:] != src[:-1]]] = False
    u = rng.random(m)
    gs, gz = group_start[src], group_size[src]
    local_t = gs + np.floor(u * u * gz).astype(np.int64)
    hub_t = lo + np.floor(u**hub_power * (hi - lo)).astype(np.int64)
    return np.where(local, local_t, hub_t)


def make_graph(seed: int, n: int) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, src, dst): directed, deduplicated, self-loop-free int64 edges.

    The giant component holds all but ~1 % of the vertices. The rest are
    small acyclic islands (every page links only to earlier pages of its
    island) and 8 isolated vertices. Islands are acyclic on purpose: a
    second large or cyclic component exchanges PageRank mass with the giant
    one only through teleport and dangling mass, a slow mode whose size
    depends on the seed and would make the iteration count swing."""
    rng = np.random.default_rng([seed, 1])
    n_iso = 8
    n_isl = n // 100
    n_main = n - n_isl - n_iso
    hs = _zipf_sizes(rng, n_main, max(1, n_main // 40), 1.1)
    first = np.concatenate(([0], np.cumsum(hs)[:-1]))
    starts, sizes = np.repeat(first, hs), np.repeat(hs, hs)
    deg = _out_degrees(rng, n_main, 2, 12)
    src = np.repeat(np.arange(n_main, dtype=np.int64), deg)
    # a squared bias: a cubic one concentrates the hubs enough that their
    # mixing rate, and with it the iteration count, varies from seed to seed
    dst = _targets(rng, src, starts, sizes, 0, n_main, 0.7, 2.0)

    isl = _zipf_sizes(rng, n_isl, max(1, n_isl // 4), 0.5)
    isl_start = n_main + np.repeat(np.concatenate(([0], np.cumsum(isl)[:-1])), isl)
    pos = np.arange(n_main, n_main + n_isl) - isl_start
    i_deg = np.minimum(pos, rng.integers(1, 4, n_isl))
    i_src = np.repeat(np.arange(n_main, n_main + n_isl), i_deg)
    i_dst = isl_start[i_src - n_main] + np.floor(
        rng.random(i_src.size) * pos[i_src - n_main]
    ).astype(np.int64)

    src, dst = np.concatenate((src, i_src)), np.concatenate((dst, i_dst))
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return n, key // n, key % n


def write_graph(path_vertices: str, path_edges: str, n: int, src, dst) -> None:
    pq.write_table(pa.table({"id": np.arange(n, dtype=np.int64)}), path_vertices)
    pq.write_table(
        pa.table({"src_id": src.astype(np.int64), "dst_id": dst.astype(np.int64)}),
        path_edges,
        row_group_size=1 << 18,
    )


def make_pages(seed: int, n_pages: int) -> pd.DataFrame:
    """Pages table with planted link structure (see module docstring)."""
    rng = np.random.default_rng([seed, 2])
    n_dom = max(4, n_pages // 200)
    dom_sizes = _zipf_sizes(rng, n_pages, n_dom, 1.2)
    dom_of = np.repeat(np.arange(n_dom), dom_sizes)
    first = np.concatenate(([0], np.cumsum(dom_sizes)[:-1]))
    starts = np.repeat(first, dom_sizes)
    sizes = np.repeat(dom_sizes, dom_sizes)
    # page ordinal inside the crawl is shuffled against url sort order, so
    # dense ids are a real global sort, not the generation order
    page_no = rng.permutation(n_pages)
    urls = np.array(
        [f"https://d{d}.example.org/p{p}" for d, p in zip(dom_of, page_no)], dtype=object
    )

    deg = _out_degrees(rng, n_pages, 5, 15)
    src = np.repeat(np.arange(n_pages, dtype=np.int64), deg)
    dst = _targets(rng, src, starts, sizes, 0, n_pages, 0.6, 3.0)
    m = src.size
    kind = rng.random(m)
    tmpl = rng.integers(0, len(ANCHORS), m)
    # planted noise: ~3 % external urls, ~2 % self-links; duplicates below
    dst = np.where((kind >= 0.03) & (kind < 0.05), src, dst)
    ext = kind < 0.03

    offs = np.concatenate(([0], np.cumsum(deg)))
    dup = rng.random(n_pages) < 0.3
    words = rng.integers(0, len(WORDS), (n_pages, 12))
    lang = LANGS[rng.integers(0, len(LANGS), n_pages)]
    html, text = [], []
    for i in range(n_pages):
        a, b = offs[i], offs[i + 1]
        anchors = [
            ANCHORS[tmpl[k]].format(
                u=f"https://ext{dst[k] % 97}.example.net/x{k}" if ext[k] else urls[dst[k]]
            )
            for k in range(a, b)
        ]
        if dup[i] and anchors:
            anchors.append(anchors[0])
        body = f"page {page_no[i]} :: " + " ".join(WORDS[words[i]])
        text.append(body)
        html.append(
            (
                f"<!DOCTYPE html><html><head><title>page {page_no[i]}</title></head>"
                f'<body>\n<p id="body">{body}</p>\n' + "\n".join(anchors) + "</body></html>"
            ).encode()
        )
    ts = pd.Timestamp("2025-01-01", tz="UTC") + pd.to_timedelta(page_no * 17, unit="s")
    ts = ts.astype("datetime64[us, UTC]")  # Spark reads micro-, not nanoseconds
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": html, "text": text, "lang": lang}
    )


def write_pages(path: str, pages: pd.DataFrame, files: int = 8) -> None:
    """Write the pages as ``files`` parquet files so the scan has real splits."""
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(pages)), files)):
        table = pa.Table.from_pandas(pages.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))
