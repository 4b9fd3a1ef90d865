"""Expected outputs, computed outside the engine.

- ``duckdb_oracle``: the query's DuckDB oracle SQL from the engine's
  registry, rendered for the generated scale, run over the same parquet.
- ``pagerank_np``: power iteration in numpy with the engine's PageRank
  semantics (teleport (1-d)/n, dangling mass dropped, L1 residual); with
  ``tol=0`` it runs exactly ``max_iter`` supersteps.
- ``fraudar_np``: the log-weighted greedy peel and block plateau of
  Fraudar, written independently of the engine (argmin in place of the
  engine's segment tree; the same smallest-index tie rule).
- ``svd_norms_np``: ||A_i V_k|| from numpy's dense SVD of the user x
  product rating matrix, k = round(0.9 min(m, n)).

Fraudar and SVD have no SQL oracle; these numpy versions take its place.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

PART_OFFSET = 1_000_000_000  # tables.PART_OFFSET: part-vertex id namespace


def duckdb_oracle(sql: str, sf_dir: str, table_names: list[str]) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def pagerank_np(src: np.ndarray, dst: np.ndarray, damping: float = 0.85,
                tol: float = 1e-6, max_iter: int = 100) -> tuple[pd.DataFrame, int]:
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    value = np.full(n, 1.0 / n)
    it = 0
    while it < max_iter:
        mass = np.bincount(d, weights=value[s] / out_deg[s], minlength=n)
        new = (1.0 - damping) / n + damping * mass
        it += 1
        residual = float(np.abs(new - value).sum())
        value = new
        if residual < tol:
            break
    return pd.DataFrame({"id": ids.astype(np.int64), "value": value}), it


def uni_directed_np(sf_dir: str, mod: int) -> pd.DataFrame:
    """tables.uni_edges_directed in pandas: ids folded mod ``mod``, no
    self-loops, distinct."""
    li = pq.read_table(f"{sf_dir}/lineitem.parquet",
                       columns=["l_orderkey", "l_partkey"]).to_pandas()
    e = pd.DataFrame({"src": li["l_orderkey"].to_numpy(np.int64) % mod,
                      "dst": li["l_partkey"].to_numpy(np.int64) % mod})
    return e[e["src"] != e["dst"]].drop_duplicates()


def bipartite_np(sf_dir: str) -> pd.DataFrame:
    """tables.bipartite_edges in pandas: (src, dst, sign), deduped on
    (src, dst) with the minimum sign."""
    li = pq.read_table(f"{sf_dir}/lineitem.parquet",
                       columns=["l_orderkey", "l_partkey", "l_quantity"]).to_pandas()
    e = pd.DataFrame({
        "src": li["l_orderkey"].to_numpy(np.int64),
        "dst": li["l_partkey"].to_numpy(np.int64) + PART_OFFSET,
        "sign": np.where(li["l_quantity"].to_numpy() >= 25, 1, 2),
    })
    return e.groupby(["src", "dst"], as_index=False)["sign"].min()


def _peel(r: np.ndarray, c: np.ndarray, n_rows: int, n_cols: int,
          col_w: np.ndarray) -> tuple[set[int], set[int], float]:
    order = np.lexsort((c, r))
    r, c = r[order], c[order]
    w = col_w[c]
    row_ptr = np.searchsorted(r, np.arange(n_rows + 1))
    by_col = np.argsort(c, kind="stable")
    col_ptr = np.searchsorted(c[by_col], np.arange(n_cols + 1))
    col_rows = r[by_col]
    row_d = np.zeros(n_rows)
    np.add.at(row_d, r, w)
    col_d = np.zeros(n_cols)
    np.add.at(col_d, c, w)
    score = float(w.sum())
    alive = n_rows + n_cols
    best, best_k = score / alive, 0
    deleted: list[tuple[int, int]] = []
    rows_left, cols_left = n_rows, n_cols
    while rows_left and cols_left:
        ri, ci = int(np.argmin(row_d)), int(np.argmin(col_d))
        if row_d[ri] <= col_d[ci]:
            score -= row_d[ri]
            nb = c[row_ptr[ri]:row_ptr[ri + 1]]
            col_d[nb] -= col_w[nb]
            row_d[ri] = np.inf
            deleted.append((0, ri))
            rows_left -= 1
        else:
            score -= col_d[ci]
            nb = col_rows[col_ptr[ci]:col_ptr[ci + 1]]
            row_d[nb] -= col_w[ci]
            col_d[ci] = np.inf
            deleted.append((1, ci))
            cols_left -= 1
        alive -= 1
        if alive and score / alive > best:
            best, best_k = score / alive, len(deleted)
    rows, cols = set(range(n_rows)), set(range(n_cols))
    for kind, idx in deleted[:best_k]:
        (rows if kind == 0 else cols).discard(idx)
    return rows, cols, best


def fraudar_np(edges: pd.DataFrame, plateau: float = 0.01,
               max_blocks: int = 50) -> pd.DataFrame:
    e = edges[["src", "dst"]].drop_duplicates().sort_values(["src", "dst"])
    src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
    users = np.unique(src)
    ri = np.searchsorted(users, src)
    ci, prods = pd.factorize(dst)  # first appearance in (src, dst) order
    n_rows, n_cols = len(users), len(prods)
    keep = np.ones(len(ri), dtype=bool)
    blocks: list[tuple[set[int], float]] = []
    for _ in range(max_blocks):
        r, c = ri[keep], ci[keep]
        col_w = 1.0 / np.log(np.bincount(c, minlength=n_cols) + 5.0)
        rows, cols, score = _peel(r, c, n_rows, n_cols, col_w)
        if blocks and abs(score - blocks[-1][1]) < plateau:
            break
        blocks.append((rows, score))
        if len(r) == 0:
            break
        keep &= ~(np.isin(ri, list(rows)) & np.isin(ci, list(cols)))
    hi, lo = blocks[0][1], blocks[-1][1]
    scores = np.full(n_rows, 1e-6)
    seen: set[int] = set()
    for rows, den in blocks:
        for i in rows - seen:
            scores[i] = (den - lo) / (hi - lo) if hi > lo else 1.0
        seen |= rows
    return pd.DataFrame({"id": users.astype(np.int64), "score": scores})


def svd_norms_np(edges: pd.DataFrame, percent: float = 0.9) -> pd.DataFrame:
    users, ri = np.unique(edges["src"].to_numpy(), return_inverse=True)
    prods, ci = np.unique(edges["dst"].to_numpy(), return_inverse=True)
    a = np.zeros((len(users), len(prods)))
    a[ri, ci] = edges["sign"].to_numpy(np.float64)
    k = int(max(round(min(a.shape) * percent), 1))
    _u, _s, vt = np.linalg.svd(a, full_matrices=False)
    norms = np.linalg.norm(a @ vt[:k].T, axis=1)
    return pd.DataFrame({"id": users.astype(np.int64), "norm": norms})
