"""Independent reference results for the benchmark's correctness check.

Nothing here imports Spark or ``lynxkite_spark``. The repo-graph oracles
are plain Python (small graphs, exact dict arithmetic); the web-graph
oracles are numpy over dense vertex ids 0..n-1, with triangles counted by
a DuckDB join. The derive oracle parses the corpus with Python regexes
and hashes ids with a from-scratch XXH64, Spark's ``xxhash64`` function.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import numpy as np

# ---------------------------------------------------------------- XXH64

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
SPARK_HASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data``; returns the unsigned 64-bit digest."""
    n = len(data)
    seed &= _M
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(*strings: str) -> int:
    """``F.xxhash64(col1, col2, ...)`` over non-null string columns: each
    column's UTF-8 bytes are hashed with the previous digest as seed,
    starting from 42. Returned as a signed long, as Spark shows it."""
    h = SPARK_HASH_SEED
    for s in strings:
        h = xxh64(s.encode(), h)
    return h - (1 << 64) if h >= 1 << 63 else h


# ---------------------------------------------------------------- derive

_IMPORT_RES = {
    "python": re.compile(r"^import\s+([A-Za-z_][\w.]*)", re.M),
    "java": re.compile(r"^import\s+([A-Za-z_][\w.]*)\s*;", re.M),
    "go": re.compile(r'"([A-Za-z_][\w.]*)"'),
}
_REPO_OF_MODULE = re.compile(r"^org_repo_(\d{5})")
_MOD_OF_MODULE = re.compile(r"\.mod_(\d+)$")
_MOD_OF_PATH = re.compile(r"mod_(\d+)\.")


def _first_group(pattern: re.Pattern, s: str) -> str:
    m = pattern.search(s)
    return m.group(1) if m else ""


def derive_oracle(repos: list[str], paths: list[str], langs: list[str], contents: list[str]):
    """Expected ``derive_repo_edges`` and ``derive_file_edges`` outputs.

    Returns ``(repo_ids, repo_edges, file_edges)``: ``{id: repo}``,
    ``{(src, dst): weight}`` and ``{(src, dst): weight}`` with Spark's
    hash ids. Semantics: an import names module ``org_repo_NNNNN.mod_M``;
    a repo edge needs the target repo to exist in the corpus and differ
    from the importer; a file edge links the importing file to every
    corpus row of the target repo whose path holds ``mod_M.``."""
    repo_set = set(repos)
    repo_id = {r: spark_xxhash64(r) for r in repo_set}
    file_id: dict[tuple[str, str], int] = {}
    targets: dict[tuple[str, str], Counter] = defaultdict(Counter)
    for repo, path in zip(repos, paths):
        key = (repo, path)
        if key not in file_id:
            file_id[key] = spark_xxhash64(repo, path)
        targets[(repo, _first_group(_MOD_OF_PATH, path))][file_id[key]] += 1

    repo_edges: Counter = Counter()
    file_edges: Counter = Counter()
    for repo, path, lang, content in zip(repos, paths, langs, contents):
        pattern = _IMPORT_RES.get(lang)
        if pattern is None:
            continue
        src_file = file_id[(repo, path)]
        for module in pattern.findall(content):
            digits = _first_group(_REPO_OF_MODULE, module)
            dst_repo = "org/repo-" + digits
            if dst_repo == repo:
                continue
            if digits and dst_repo in repo_set:
                repo_edges[(repo_id[repo], repo_id[dst_repo])] += 1
            for dst_file, mult in targets.get((dst_repo, _first_group(_MOD_OF_MODULE, module)), {}).items():
                file_edges[(src_file, dst_file)] += mult
    ids = {i: r for r, i in repo_id.items()}
    return ids, dict(repo_edges), dict(file_edges)


# ---------------------------------------------------------------- repo graph (pure Python)


def components_py(vertices: list[int], edges) -> dict[int, int]:
    """Undirected components labeled by their smallest vertex id."""
    adj: dict[int, set] = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    label: dict[int, int] = {}
    for v in sorted(vertices):
        if v in label:
            continue
        stack = [v]
        label[v] = v
        while stack:
            u = stack.pop()
            for w in adj[u]:
                if w not in label:
                    label[w] = v
                    stack.append(w)
    return label


# ---------------------------------------------------------------- web graph (numpy / DuckDB)


def pagerank_np(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    damping: float,
    iterations: int | None = None,
    tol: float | None = None,
    max_iterations: int = 200,
) -> np.ndarray:
    """Unit-weight PageRank with ``np.bincount``: a fixed iteration count,
    or (``iterations=None``) until max |change| < tol."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    share = damping / out_deg[src]
    rank = np.ones(n)
    for _ in range(iterations if iterations is not None else max_iterations):
        incoming = np.bincount(dst, weights=rank[src] * share, minlength=n)
        new = incoming + (n - incoming.sum()) / n
        delta = np.abs(new - rank).max()
        rank = new
        if iterations is None and delta < tol:
            break
    return rank


def labelprop_np(n: int, src: np.ndarray, dst: np.ndarray, max_iterations: int) -> np.ndarray:
    """Synchronous LPA, vectorized: votes are (receiver, label) pair counts
    over both edge directions; each receiver takes the label with the most
    votes, ties to the smaller label; unchanged once nothing moves."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_iterations):
        cand = label[a]
        order = np.lexsort((cand, b))
        rb, rc = b[order], cand[order]
        start = np.flatnonzero(np.r_[True, (rb[1:] != rb[:-1]) | (rc[1:] != rc[:-1])])
        votes = np.diff(np.r_[start, len(rb)])
        vb, vc = rb[start], rc[start]
        # best per receiver: most votes, then smallest label
        best = np.lexsort((vc, -votes, vb))
        first = best[np.r_[True, vb[best][1:] != vb[best][:-1]]]
        new = label.copy()
        new[vb[first]] = vc[first]
        changed = not np.array_equal(new, label)
        label = new
        if not changed:
            break
    return label


def triangles_duckdb(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-vertex triangle counts over the undirected simple graph, by a
    DuckDB self-join of the canonical (a < b) edge list."""
    import duckdb

    edges = {"s": src, "d": dst}  # noqa: F841 -- read by DuckDB by name
    con = duckdb.connect()
    try:
        rows = con.execute(
            """
            WITH e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                       FROM edges WHERE s <> d),
                 t AS (SELECT e1.a, e1.b, e2.b AS c
                       FROM e e1 JOIN e e2 ON e1.b = e2.a
                       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
                 v AS (SELECT a AS id FROM t UNION ALL SELECT b FROM t
                       UNION ALL SELECT c FROM t)
            SELECT id, count(*) FROM v GROUP BY id
            """
        ).fetchnumpy()
    finally:
        con.close()
    counts = np.zeros(n, dtype=np.int64)
    counts[rows["id"].astype(np.int64)] = rows["count_star()"]
    return counts
