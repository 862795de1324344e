"""Independent oracles: numpy for the graph algorithms, DuckDB for the build.

None of this imports the package under test. Each oracle restates the
algorithm's contract from scratch:

- PageRank: damping 0.85, dangling mass spread uniformly, uniform start;
  converged far past the program's tolerance so the program's answer can
  be held to max |delta rank| <= 1e-6 and total mass 1 +- 1e-9.
- Connected components: label = smallest vertex id of the component.
- Label propagation: synchronous rounds on the symmetrised simple graph;
  each vertex takes its neighbours' most frequent label, ties to the
  smallest label, vertices without neighbours keep their label.
- Triangles: exact count on the undirected simple graph.
- Build: dense ids are the 0-based rank of the distinct url in byte order;
  edges are the distinct (src, dst) id pairs of every href the pattern
  below finds, minus self-links and links to urls outside the crawl.
"""

from __future__ import annotations

import os
import time

import numpy as np

DAMPING = 0.85
# the href pattern the link extractor documents, in RE2 syntax
HREF_RE = "(?i)<a\\s+[^>]*?href=[\"']([^\"']+)[\"']"


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, tol: float, max_iter: int = 10_000):
    """Power iteration to an L1 step below ``tol``; returns (ranks, iterations, seconds)."""
    t0 = time.perf_counter()
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(out_deg, 1.0))
    r = np.full(n, 1.0 / n)
    it = 0
    while it < max_iter:
        it += 1
        nxt = np.bincount(dst, weights=(r * inv)[src], minlength=n)
        nxt = (1.0 - DAMPING) / n + DAMPING * (nxt + r[dangling].sum() / n)
        delta = np.abs(nxt - r).sum()
        r = nxt
        if delta <= tol:
            break
    return r, it, time.perf_counter() - t0


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Min-label propagation with pointer jumping; label = component's min id."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, src, lab[dst])
        np.minimum.at(nxt, dst, lab[src])
        nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def undirected_pairs(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Both orientations of every distinct undirected non-loop edge, sorted by (u, v)."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    key = np.unique(a * n + b)
    a, b = key // n, key % n
    key = np.sort(np.concatenate((a * n + b, b * n + a)))
    return key // n, key % n


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, rounds: int) -> np.ndarray:
    u, v = undirected_pairs(n, src, dst)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        key, cnt = np.unique(u * n + lab[v], return_counts=True)
        vid, vlab = key // n, key % n
        # per vertex: highest count first, then smallest label
        order = np.lexsort((vlab, -cnt, vid))
        vid, vlab = vid[order], vlab[order]
        first = np.ones(vid.size, bool)
        first[1:] = vid[1:] != vid[:-1]
        nxt = lab.copy()
        nxt[vid[first]] = vlab[first]
        lab = nxt
    return lab


def triangles(n: int, src: np.ndarray, dst: np.ndarray, chunk: int = 2_000_000) -> int:
    """Count each triangle once at its lowest (degree, id) vertex."""
    u, v = undirected_pairs(n, src, dst)
    deg = np.bincount(u, minlength=n)
    lower = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    ou, ov = u[lower], v[lower]  # sorted by ou
    closing = np.sort(u * n + v)
    starts = np.searchsorted(ou, np.arange(n + 1))
    d = np.diff(starts)
    pairs_per = d * (d - 1) // 2
    total = 0
    lo = 0
    cum = np.cumsum(pairs_per)
    while lo < n:
        base = cum[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(cum, base + chunk, side="right")))
        xs, ys = [], []
        for p in np.nonzero(d[lo:hi] > 1)[0] + lo:
            nb = ov[starts[p] : starts[p + 1]]
            i, j = np.triu_indices(nb.size, 1)
            xs.append(nb[i])
            ys.append(nb[j])
        if xs:
            keys = np.concatenate(xs) * n + np.concatenate(ys)
            pos = np.searchsorted(closing, keys)
            pos[pos == closing.size] = 0
            total += int(np.count_nonzero(closing[pos] == keys))
        lo = hi
    return total


def build_expected(pages_glob: str, out_dir: str) -> dict:
    """Write the expected vertices and edges of ``pages_glob`` as parquet.

    Returns the link count (every href the pattern finds) and table sizes."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute(
            f"""CREATE TEMP TABLE links AS
            SELECT url AS src_url, unnest(regexp_extract_all(decode(html), ?, 1)) AS dst_url
            FROM read_parquet('{pages_glob}')""",
            [HREF_RE],
        )
        con.execute(
            f"""CREATE TEMP TABLE v AS
            SELECT url, (row_number() OVER (ORDER BY url) - 1)::BIGINT AS id
            FROM (SELECT DISTINCT url FROM read_parquet('{pages_glob}'))"""
        )
        con.execute(
            f"COPY v TO '{out_dir}/vertices.parquet' (FORMAT parquet)"
        )
        con.execute(
            f"""COPY (SELECT DISTINCT s.id AS src_id, d.id AS dst_id
                FROM links JOIN v s ON s.url = links.src_url
                JOIN v d ON d.url = links.dst_url
                WHERE links.src_url <> links.dst_url)
            TO '{out_dir}/edges.parquet' (FORMAT parquet)"""
        )
        (links,) = con.execute("SELECT count(*) FROM links").fetchone()
        (nv,) = con.execute(f"SELECT count(*) FROM '{out_dir}/vertices.parquet'").fetchone()
        (ne,) = con.execute(f"SELECT count(*) FROM '{out_dir}/edges.parquet'").fetchone()
    finally:
        con.close()
    return {"links": int(links), "vertices": int(nv), "edges": int(ne)}


def check_build(expected_dir: str, vertices_dir: str, edges_dir: str) -> list[str]:
    """Exact set comparison of the written tables against the expected ones."""
    import duckdb

    con = duckdb.connect()
    problems = []
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for name, got, cols in (
            ("vertices", vertices_dir, "url, id"),
            ("edges", edges_dir, "src_id, dst_id"),
        ):
            want = f"read_parquet('{expected_dir}/{name}.parquet')"
            have = f"read_parquet('{got}/*.parquet')"
            (n_have,) = con.execute(f"SELECT count(*) FROM {have}").fetchone()
            (n_want,) = con.execute(f"SELECT count(*) FROM {want}").fetchone()
            (missing,) = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {want} EXCEPT SELECT {cols} FROM {have})"
            ).fetchone()
            if n_have != n_want or missing:
                problems.append(
                    f"{name}: {n_have} rows written, {n_want} expected, {missing} expected rows missing"
                )
    finally:
        con.close()
    return problems


def check_ranks(ids: np.ndarray, ranks: np.ndarray, want: np.ndarray) -> list[str]:
    problems = []
    if ids.size != want.size or np.unique(ids).size != ids.size:
        return [f"ranks: {ids.size} rows for {want.size} vertices"]
    got = np.empty_like(want)
    got[ids] = ranks
    err = float(np.abs(got - want).max())
    mass = float(got.sum())
    if not err <= 1e-6:
        problems.append(f"ranks: max |delta| {err:.3g} > 1e-6")
    if not abs(mass - 1.0) <= 1e-9:
        problems.append(f"ranks: total mass {mass!r} not 1 +- 1e-9")
    return problems


def check_labels(name: str, ids: np.ndarray, labels: np.ndarray, want: np.ndarray) -> list[str]:
    if ids.size != want.size or np.unique(ids).size != ids.size:
        return [f"{name}: {ids.size} rows for {want.size} vertices"]
    got = np.empty_like(want)
    got[ids] = labels
    bad = int(np.count_nonzero(got != want))
    return [f"{name}: {bad} vertices differ"] if bad else []
