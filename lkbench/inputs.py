"""Seeded workload inputs, made with numpy and written as parquet.

The benchmark makes its own inputs so that the program sees only stored
tables, and so that no JVM is needed before the measured run starts.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("python", "java", "go")
EXTS = ("py", "java", "go")
N_MODS = 97


def _skewed(rng: np.random.Generator, size, n: int) -> np.ndarray:
    """Indices in [0, n) with density falling off like 1/sqrt: index 0
    is the most popular (quadratic skew of a uniform draw)."""
    u = rng.random(size)
    return np.minimum((u * u * n).astype(np.int64), n - 1)


def write_corpus(
    path: str,
    seed: int,
    n_files: int,
    n_repos: int,
    hub_fraction: float,
    max_imports: int = 5,
) -> None:
    """A source corpus: one row per file ``(repo, path, lang, content)``.

    Files land in repos with quadratic skew; each imports up to
    ``max_imports`` modules ``org_repo_NNNNN.mod_M`` of skewed target repos
    (self-imports included, which the engine must drop), plus a standard
    library import that resolves to no repo. ``hub_fraction`` of all files
    import repo 0, so repo 0 is a hub of the derived graph."""
    rng = np.random.default_rng(seed)
    repo = _skewed(rng, n_files, n_repos)
    lang = rng.integers(0, len(LANGS), n_files)
    n_imp = rng.integers(0, max_imports + 1, n_files)
    target = _skewed(rng, (n_files, max_imports), n_repos)
    target[:, 0] = np.where(rng.random(n_files) < hub_fraction, 0, target[:, 0])
    n_imp = np.where(target[:, 0] == 0, np.maximum(n_imp, 1), n_imp)
    mod = rng.integers(0, N_MODS, (n_files, max_imports))

    paths, contents = [], []
    for i in range(n_files):
        lg = LANGS[lang[i]]
        paths.append(f"src/pkg_{i % 13}/mod_{i % N_MODS}.{EXTS[lang[i]]}")
        mods = [f"org_repo_{target[i, j]:05d}.mod_{mod[i, j]}" for j in range(n_imp[i])]
        if lg == "python":
            body = "".join(f"import {m}\n" for m in ["os", *mods]) + f"def fn_{i}():\n    return {i}\n"
        elif lg == "java":
            body = "".join(f"import {m};\n" for m in ["java.util.List", *mods]) + f"class C{i} {{}}\n"
        else:
            lines = "".join(f'    "{m}"\n' for m in ["fmt", *mods])
            body = f"import (\n{lines})\nfunc fn{i}() int {{ return {i} }}\n"
        contents.append(f"// file {i}\n{body}")
    table = pa.table(
        {
            "repo": [f"org/repo-{r:05d}" for r in repo],
            "path": paths,
            "lang": [LANGS[x] for x in lang],
            "content": contents,
        }
    )
    pq.write_table(table, path)


def scale_free_edges(seed: int, n: int, out_degree: int) -> tuple[np.ndarray, np.ndarray]:
    """Preferential-attachment-shaped directed graph on ids 0..n-1: vertex
    i links to ``floor(u*u*i)`` for ``out_degree`` uniform draws u, so low
    ids become hubs. Self-loops dropped, duplicate edges merged."""
    rng = np.random.default_rng(seed)
    src = np.repeat(np.arange(1, n, dtype=np.int64), out_degree)
    u = rng.random(len(src))
    dst = (u * u * src).astype(np.int64)
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(pa.table({"src": src, "dst": dst}), path)
