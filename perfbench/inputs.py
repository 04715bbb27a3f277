"""Seeded inputs and their expected outputs.

Everything here is plain NumPy/pandas/pyarrow: the engine under test only
ever sees the parquet files written by :func:`prepare`, and the expected
outputs are computed from the same arrays by an independent NumPy
derivation plus the repository's reference implementations
(``vite_spark.oracle``). Inputs and expectations are cached per
(workload, seed) under the run's work dir, so they are built once per seed
and never inside a timed op.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

# Bump when a generator or an expectation changes, so stale caches are
# rebuilt instead of reused.
GEN_VERSION = 5

# ---- lineitem (louvain-cooccur, graph-queries) ----------------------------
# TPC-H shape: ``orders = 1.5M·sf``, ``parts = 200k·sf``, 1..7 lines per
# order with uniform part keys; a seeded 90% order sample is kept.
LINEITEM_SF = 0.01
BASE_SEED = 20_240_101
ORDER_SAMPLE = 0.9

# ---- repos (repos-ckpt) ---------------------------------------------------
# Two kinds of shared paths. Library paths (third-party files copied into
# repos) are drawn over all repos with a bounded-Pareto popularity, so path
# sharing is power-law, crosses organisations, and the hottest keys below
# the cap are in 100-200 repos. Organisations (Pareto sizes) vendor their own
# paths, which gives Louvain communities to find. HOT_PATHS are present in
# ~90% of all repos, i.e. above the engine's default 10k ``max_key_freq``
# cap, so the derivation must drop them. A few repo-private rows carry a
# wrong sha256 and must be dropped by the gate. Like the lineitem base table,
# the sharing structure (which repos hold which paths) is fixed: the seed
# draws the repo names, commits, contents, the rows with a wrong hash and the
# row order. Names are handed out in sorted order, so dense ids follow the
# structure and every seed costs Louvain the same levels and supersteps (with
# seeded structure they ranged over 4-5 levels and 15-18 supersteps, which
# spread the op time by seed, not by engine).
N_REPOS = 12_000
HOT_PATHS = ("LICENSE", "README.md", ".gitignore")
HOT_SHARE = 0.9
LIB_PATHS = 100               # library paths shared across organisations
LIB_FREQ = (2, 400)           # bounded-Pareto repos per library path
LIB_ALPHA = 1.0
ORG_REPOS = 3_000             # repos that belong to an organisation
ORG_SIZE = (4, 48)            # bounded-Pareto members per organisation
ORG_ALPHA = 1.5
ORG_PATHS = 2                 # vendored paths per organisation
PRIVATE_FILES_PER_REPO = 4    # mean of the repo-private (unshared) files
CORRUPT_SHARE = 0.005         # private rows whose stored sha256 is wrong
MAX_KEY_FREQ = 10_000         # mirrors derive.DEFAULT_MAX_KEY_FREQ


def _pairs_from_groups(group: np.ndarray, member: np.ndarray, n_members: int):
    """Directed co-membership pairs (both orientations) with the number of
    shared groups as weight. ``group``/``member`` are (group, member) rows,
    deduplicated and sorted by (group, member)."""
    if len(group) == 0:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0, np.float64),)
    start = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
    size = np.diff(np.r_[start, len(group)])
    keys = []
    # small groups: one vectorised pass per offset within the group
    small = size <= 8
    s_rows = np.repeat(small, size)
    g_s, m_s = group[s_rows], member[s_rows]
    for k in range(1, 8):
        same = g_s[:-k] == g_s[k:] if len(g_s) > k else np.zeros(0, bool)
        a, b = m_s[:-k][same], m_s[k:][same]
        keys.append(a * n_members + b)
        keys.append(b * n_members + a)
    # large groups: all pairs per group
    for st, sz in zip(start[~small], size[~small]):
        mem = member[st:st + sz]
        i, j = np.triu_indices(sz, 1)
        keys.append(mem[i] * n_members + mem[j])
        keys.append(mem[j] * n_members + mem[i])
    k, w = np.unique(np.concatenate(keys), return_counts=True)
    return k // n_members, k % n_members, w.astype(np.float64)


def _dedup(group: np.ndarray, member: np.ndarray, n_members: int):
    k = np.unique(group.astype(np.int64) * n_members + member)
    return k // n_members, k % n_members


def gen_lineitem(seed: int, sf: float = LINEITEM_SF):
    """The base table is fixed, like dbgen's; the seed draws the order
    sample."""
    rng = np.random.default_rng(BASE_SEED)
    n_orders = int(1_500_000 * sf)
    n_parts = int(200_000 * sf)
    lines = rng.integers(1, 8, n_orders)
    pkey = rng.integers(0, n_parts, int(lines.sum())).astype(np.int64)
    keep = np.random.default_rng([seed, 1]).random(n_orders) < ORDER_SAMPLE
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    rows = np.repeat(keep, lines)
    return {"l_orderkey": okey[rows], "l_partkey": pkey[rows],
            "l_linenumber": lnum[rows]}, n_parts


def lineitem_edges(li: dict, n_parts: int):
    """NumPy mirror of ``derive.lineitem_part_edges``."""
    o, p = _dedup(li["l_orderkey"], li["l_partkey"], n_parts)
    return _pairs_from_groups(o, p, n_parts)


def _pareto_quantiles(n: int, lo: int, hi: int, alpha: float) -> np.ndarray:
    """``n`` integer sizes at the mid-quantiles of a Pareto(``alpha``)
    distribution bounded to [lo, hi]."""
    u = (np.arange(n) + 0.5) / n
    x = lo * (1.0 - u * (1.0 - (lo / hi) ** alpha)) ** (-1.0 / alpha)
    return np.floor(x).astype(np.int64)


def gen_repos(seed: int):
    """repos(repo, path, commit, lang, content, content_sha256), plus the
    mask of rows whose stored hash is right."""
    top = np.random.default_rng([BASE_SEED, 2])     # sharing structure
    rng = np.random.default_rng([seed, 2])
    names = np.array([f"gh/{x:07x}" for x in
                      np.sort(rng.choice(16 ** 7, N_REPOS, replace=False))])
    rows_r, rows_p = [], []

    def add(repos, path):
        rows_r.append(repos)
        rows_p.append(np.full(len(repos), path, dtype=object))

    for hot in HOT_PATHS:
        add(np.flatnonzero(top.random(N_REPOS) < HOT_SHARE), hot)
    for lib, f in enumerate(_pareto_quantiles(LIB_PATHS, *LIB_FREQ, LIB_ALPHA)):
        add(top.choice(N_REPOS, f, replace=False), f"third_party/lib{lib:04d}.c")
    members = top.permutation(N_REPOS)[:ORG_REPOS]
    sizes = top.permutation(_pareto_quantiles(ORG_REPOS // 8, *ORG_SIZE,
                                              ORG_ALPHA))
    org, at = 0, 0
    while at < ORG_REPOS:
        team = members[at:at + sizes[org % len(sizes)]]
        for k in range(ORG_PATHS):
            add(team, f"vendor/org{org:04d}/lib{k}.py")
        org, at = org + 1, at + len(team)
    n_priv = top.poisson(PRIVATE_FILES_PER_REPO, N_REPOS)
    pr = np.repeat(np.arange(N_REPOS), n_priv)
    rows_r.append(pr)
    rows_p.append(np.array([f"src/{names[r][3:]}_{j}.py" for j, r in
                            enumerate(pr)], dtype=object))
    ri = np.concatenate(rows_r)
    path = np.concatenate(rows_p)
    n = len(ri)
    repo = names[ri]
    commit = np.array([f"{x:040x}" for x in rng.integers(0, 2 ** 62, n)])
    lang = np.array(["python", "go", "rust", "c"], dtype=object)[
        rng.integers(0, 4, n)]
    content = np.array([f"// {r} {p} {c}\n" + "x" * (64 + (k % 97))
                        for k, (r, p, c) in enumerate(zip(repo, path, commit))],
                       dtype=object)
    sha = np.array([hashlib.sha256(c.encode()).hexdigest() for c in content],
                   dtype=object)
    bad = (rng.random(n) < CORRUPT_SHARE) & (np.arange(n) >= n - len(pr))
    sha[bad] = "0" * 64
    order = rng.permutation(n)
    return {"repo": repo[order], "path": path[order], "commit": commit[order],
            "lang": lang[order], "content": content[order],
            "content_sha256": sha[order]}, ~bad[order]


def repos_edges(t: dict, ok: np.ndarray):
    """NumPy mirror of ``derive.repos_to_edges``: sha256 gate, dense ids by
    repo name, distinct (id, path), key-frequency cap, co-occurrence."""
    repo, path = t["repo"][ok], t["path"][ok]
    names, rid = np.unique(repo, return_inverse=True)
    paths, pid = np.unique(path, return_inverse=True)
    pid, rid = _dedup(pid, rid.astype(np.int64), len(names))
    kf = np.bincount(pid, minlength=len(paths))
    keep = kf[pid] <= MAX_KEY_FREQ
    s, d, w = _pairs_from_groups(pid[keep], rid[keep], len(names))
    return s, d, w, names


# ---- expectations ---------------------------------------------------------

def _compact(src, dst):
    verts = np.unique(np.concatenate([src, dst]))
    return verts, np.searchsorted(verts, src), np.searchsorted(verts, dst)


def expect_louvain(src, dst, w) -> dict:
    from vite_spark.oracle.louvain_ref import louvain_oracle_full

    verts, s, d = _compact(src, dst)
    res = louvain_oracle_full(s, d, w, len(verts))
    return {"louvain_ids": verts, "louvain_labels": res.labels,
            "louvain_q": np.float64(res.q_per_phase[-1])}


def expect_queries(src, dst, w, pr_iters: int, lpa_iters: int) -> dict:
    from vite_spark.oracle.simple_ref import (
        connected_components_ref, lpa_ref, pagerank_ref, triangles_ref)

    verts, s, d = _compact(src, dst)
    nv = len(verts)
    rank = pagerank_ref(s, d, w, nv, damping=0.85, tol=0.0, max_iter=pr_iters)
    cc = connected_components_ref(s, d, nv)
    comp, n = np.unique(cc, return_counts=True)
    lpa = lpa_ref(s, d, w, nv, max_iter=lpa_iters)
    _, tri = triangles_ref(s, d, nv)
    return {"ids": verts, "pagerank": np.round(rank, 6),
            "cc_component": verts[comp], "cc_n": n,
            "lpa_label": verts[lpa], "triangles": np.int64(tri)}


# ---- cache ----------------------------------------------------------------

def _write_parquet(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({k: pa.array(v) for k, v in cols.items()})
    # one row group, like the TPC-H testdata the derivation plans on
    pq.write_table(t, path, row_group_size=max(1, t.num_rows))


def prepare(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Build (or reuse) the inputs and expectations for one seed. Returns
    (input dir, expected arrays)."""
    from vite_spark import queries

    d = os.path.join(root, f"{workload}-s{seed}-v{GEN_VERSION}")
    exp_path = os.path.join(d, "expected.npz")
    if not os.path.exists(exp_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "repos-ckpt":
            t, ok = gen_repos(seed)
            _write_parquet(t, os.path.join(tmp, "repos.parquet"))
            s, dd, w, names = repos_edges(t, ok)
            exp = expect_louvain(s, dd, w)
            exp["louvain_ids"] = names[exp["louvain_ids"]]
        else:
            li, n_parts = gen_lineitem(seed)
            _write_parquet(li, os.path.join(tmp, "lineitem.parquet"))
            s, dd, w = lineitem_edges(li, n_parts)
            if workload == "louvain-cooccur":
                exp = expect_louvain(s, dd, w)
            else:
                exp = expect_queries(s, dd, w, queries.PR_ITERS,
                                     queries.LPA_ITERS)
        exp["edges"] = np.int64(len(s))
        np.savez(os.path.join(tmp, "expected.npz"), **exp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with np.load(exp_path, allow_pickle=False) as z:
        return d, {k: z[k] for k in z.files}
