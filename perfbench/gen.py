"""Seeded input generators for the link-graph benchmark.

Everything here is numpy/pandas and depends only on the seed: the
engine receives the generated tables and nothing else.

- ``repo_table``: a ``(repo, path, commit, lang, content)`` table of
  source files that import each other in the four languages the
  engine's extractor parses (py, java, c, js), with Zipf-distributed
  target popularity in a layered (acyclic) import graph and vendored
  copies of files in a second repo (one import token then resolves to
  several files, the cross-repo links).
  ``repo_edges`` derives the expected ``(src, dst)`` edge set from the
  generator's own record of who imports whom.
- ``rmat_edges``: an RMAT (Graph500 parameters) directed edge list with
  scrambled vertex ids, self-loops and duplicates left in, as a raw
  crawl would have them.
- ``split_stream``: holds out equal-sized micro-batches of distinct
  edges for the streaming path; the rest is the bootstrap batch.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ("py", "java", "c", "js")
N_MODULES = 40
N_REPOS = 64
#: share of files that also appear, vendored, in a second repo
VENDOR_SHARE = 0.10
#: Zipf exponent of import-target popularity
ZIPF_S = 1.1
#: independent import ecosystems in one corpus
N_ECOSYSTEMS = 8


def _import_line(lang: str, module: str, name: str) -> str:
    if lang == "py":
        return f"import {module}.{name}"
    if lang == "java":
        return f"import {module}.{name};"
    if lang == "c":
        return f'#include "{module}/{name}.h"'
    return f"const {name} = require('{module}/{name}')"


def _decoy_line(lang: str, module: str, name: str) -> str:
    """A commented-out import: the extractor's patterns must not match."""
    if lang == "py":
        return f"# import {module}.{name}"
    return f"// see {module}.{name}"


@dataclass
class RepoInput:
    table: pd.DataFrame        # repo, path, commit, lang, content
    refs: list[list[int]]      # per generated file index: imported file indices
    rows_of_file: list[list[int]]  # file index -> table row indices (copies)


def repo_table(seed: int, n_files: int) -> RepoInput:
    rng = np.random.default_rng([seed, 1])
    lang_idx = rng.integers(0, len(LANGS), n_files)
    module = rng.integers(0, N_MODULES, n_files)
    home = rng.integers(0, N_REPOS, n_files)
    n_refs = rng.choice(5, size=n_files, p=[0.15, 0.25, 0.3, 0.2, 0.1])
    # The corpus is N_ECOSYSTEMS independent ecosystems of equal size.
    # Within one, popularity is Zipf over a random order of its files,
    # and a file imports only files more popular than itself (libraries
    # do not import their users), so the import graph is layered and
    # acyclic. Convergence is then set by the slowest of several
    # independent ecosystems, which varies less from seed to seed.
    eco = np.arange(n_files) * N_ECOSYSTEMS // n_files
    draws = np.empty(int(n_refs.sum()), np.int64)
    start = np.concatenate([[0], np.cumsum(n_refs)])
    for k in range(N_ECOSYSTEMS):
        files = np.flatnonzero(eco == k)
        n = len(files)
        perm = files[rng.permutation(n)]
        pos = np.empty(n, np.int64)
        pos[perm - files[0]] = np.arange(n)
        cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** ZIPF_S)
        owner = np.repeat(files, n_refs[files])
        p = pos[owner - files[0]]
        u = rng.random(len(owner)) * cdf[np.maximum(p - 1, 0)]
        picked = perm[np.minimum(np.searchsorted(cdf, u, side="right"), n - 1)]
        draws[start[files[0]] : start[files[-1] + 1]] = np.where(p > 0, picked, owner)
    decoy = rng.integers(0, n_files, n_files)
    vendored = rng.random(n_files) < VENDOR_SHARE
    second = (home + 1 + rng.integers(0, N_REPOS - 1, n_files)) % N_REPOS
    pads = rng.integers(0, 1 << 62, (n_files, 3))

    refs: list[list[int]] = []
    rows = {"repo": [], "path": [], "commit": [], "lang": [], "content": []}
    rows_of_file: list[list[int]] = []
    at = 0
    for i in range(n_files):
        lang = LANGS[lang_idx[i]]
        targets = [int(t) for t in draws[at : at + n_refs[i]] if t != i]
        at += n_refs[i]
        refs.append(targets)
        path = f"src/m{module[i]}/f{i}.{lang}"
        lines = [f"// file {path}"]
        lines += [_import_line(lang, f"m{module[t]}", f"f{t}") for t in targets]
        d = int(decoy[i])
        lines.append(_decoy_line(lang, f"m{module[d]}", f"f{d}"))
        lines += [f"// {p:016x}" for p in pads[i]]
        content = "\n".join(lines) + "\n"
        repos = [int(home[i])] + ([int(second[i])] if vendored[i] else [])
        idx = []
        for r in repos:
            idx.append(len(rows["repo"]))
            rows["repo"].append(f"org{r % 7}/repo{r}")
            rows["path"].append(path)
            rows["commit"].append(f"{int(pads[i, 0]) ^ r:040x}"[-40:])
            rows["lang"].append(lang)
            rows["content"].append(content)
        rows_of_file.append(idx)
    return RepoInput(pd.DataFrame(rows), refs, rows_of_file)


def repo_edges(inp: RepoInput, row_vid: np.ndarray) -> pd.DataFrame:
    """Expected deduped, self-loop-free ``(src, dst)`` of the repo graph.

    ``row_vid[r]`` is the vertex id of table row ``r``; a reference to
    file ``t`` links every row of the source file to every copy of ``t``.
    """
    src, dst = [], []
    for i, targets in enumerate(inp.refs):
        for r in inp.rows_of_file[i]:
            for t in targets:
                for q in inp.rows_of_file[t]:
                    src.append(row_vid[r])
                    dst.append(row_vid[q])
    e = pd.DataFrame({"src": np.array(src, np.int64), "dst": np.array(dst, np.int64)})
    return e[e.src != e.dst].drop_duplicates().reset_index(drop=True)


def rmat_edges(seed: int, scale: int, edge_factor: int = 8,
               a: float = 0.57, b: float = 0.19, c: float = 0.19) -> pd.DataFrame:
    """Raw RMAT edge list; vertex ids scrambled by a seeded permutation."""
    rng = np.random.default_rng([seed, 2])
    m = edge_factor << scale
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    d = 1.0 - a - b - c
    for level in range(scale):
        u = rng.random(m)
        v = rng.random(m)
        sbit = u >= a + b
        p_right = np.where(sbit, d / (c + d), b / (a + b))
        dbit = v < p_right
        src |= sbit.astype(np.int64) << level
        dst |= dbit.astype(np.int64) << level
    ids = rng.permutation(1 << scale).astype(np.int64) + (1 << 32)
    return pd.DataFrame({"src": ids[src], "dst": ids[dst]})


def clean(edges: pd.DataFrame) -> pd.DataFrame:
    e = edges[edges.src != edges.dst]
    return e.drop_duplicates().reset_index(drop=True)


def split_stream(seed: int, edges: pd.DataFrame, n_batches: int, batch_size: int,
                 hubs: int = 0) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Hold out ``n_batches`` equal batches of distinct edges.

    ``edges`` must be clean (deduped, no self-loops). With ``hubs > 0``
    the held-out edges are drawn from edges incident to the ``hubs``
    highest-degree vertices, so every batch lands on the hubs. Returns
    ``(bootstrap, batches)``; bootstrap ∪ batches == edges, disjoint.
    """
    rng = np.random.default_rng([seed, 3])
    n_hold = n_batches * batch_size
    if hubs > 0:
        deg = pd.concat([edges.src, edges.dst]).value_counts()
        top = deg.index[:hubs].to_numpy()
        pool = np.flatnonzero(edges.src.isin(top).to_numpy() | edges.dst.isin(top).to_numpy())
    else:
        pool = np.arange(len(edges))
    if len(pool) < n_hold:
        raise ValueError(f"only {len(pool)} candidate edges for {n_hold} held out")
    held = rng.choice(pool, size=n_hold, replace=False)
    keep = np.ones(len(edges), bool)
    keep[held] = False
    batches = [
        edges.iloc[held[k * batch_size : (k + 1) * batch_size]].reset_index(drop=True)
        for k in range(n_batches)
    ]
    return edges[keep].reset_index(drop=True), batches
