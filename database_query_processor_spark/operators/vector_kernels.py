"""numpy kernels behind the similarity operators' Arrow boundaries
(x05's bucket verify, x49's cell drop scan, x66's PQ encode) and the
driver-side codebook and distance-table math.

BIT-EQUALITY with the Catalyst folds (`similarity.dot_d`, `_l2sq`)
and the DuckDB oracle (`sql_dot`, `_sql_l2sq_sub`), argued once here:

  * Each product is the same float64 multiply of the float→double
    widened components: x·y for dot, (x−y)·(x−y) for L2² (never pow).
  * ``np.cumsum`` along a row adds them in the fold's left-to-right
    order, so its last column is the sequential aggregate()/list_sum()
    value — except that the fold starts from 0.0, and 0.0 + (−0.0) =
    +0.0 flips the sign of an all-zero sum, which no ``>=`` gate or
    ordering sees. ``np.sum`` and BLAS reassociate; they are never used
    where results are oracle-checked.
  * sqrt and the divide are correctly rounded in all three engines; a
    zero norm gives nan here and NULL there, and both fail every
    ``>=`` gate.
  * ``np.argmin``/``np.argmax`` and a stable argsort take the FIRST
    extremum: the ``ORDER BY dist, j`` tie-break on the lower codebook
    index or id.
  * That needs finite inputs: ``np.argmin`` picks a NaN where Spark and
    DuckDB sort NaN last, and a NULL component (a NULL fold there)
    arrives here as nan. `matrix` rejects both, naming the column.

`argmax_cosine_blas` is the one exception: its matmul may differ from
the fold in the last ulp. It serves only codebooks past the
literal-argmax cliff (`similarity._ASSIGN_LITERAL_MAX`), which no
oracle checks.
"""

from __future__ import annotations

import numpy as np


def matrix(vectors, column: str) -> np.ndarray:
    """Stack equal-length vectors into a float64 row matrix; ValueError
    naming ``column`` on a NULL vector or a NULL/NaN/inf component."""
    rows = list(vectors)
    if any(v is None for v in rows):
        raise ValueError(f"column {column!r} holds a NULL vector")
    mat = np.stack(rows).astype(np.float64, copy=False)
    if not np.isfinite(mat).all():
        raise ValueError(f"column {column!r} holds a NULL or non-finite vector component")
    return mat


def dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise Σ a_i·b_i in fold order (``b`` may be one row)."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def l2sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise Σ (a_i − b_i)² in fold order (``b`` may be one row)."""
    diff = a - b
    return np.cumsum(diff * diff, axis=-1)[..., -1]


def norms(a: np.ndarray) -> np.ndarray:
    return np.sqrt(dots(a, a))


def cosines(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        return dots(a, b) / (norms(a) * norms(b))


def top_first(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the ``k`` largest scores, ties to the lower index,
    nan last (``ORDER BY score DESC NULLS LAST, j``)."""
    return np.argsort(-scores, kind="stable")[:k]


def _pair_blocks(ids: np.ndarray, vectors, column: str):
    """Id-sorted pair-block scan: sorted ids, and per row i the cosines
    of row i with every later row — each pair once, lower id first."""
    order = np.argsort(ids, kind="stable")
    mat = matrix(vectors, column)[order]
    nrm = norms(mat)

    def blocks():
        for i in range(len(mat) - 1):
            with np.errstate(divide="ignore", invalid="ignore"):
                yield i, dots(mat[i + 1 :], mat[i]) / (nrm[i] * nrm[i + 1 :])

    return ids[order], blocks()


def cosine_pairs(ids: np.ndarray, vectors, column: str, threshold: float):
    """(id_a, id_b, cos) arrays of the pairs with cos >= threshold,
    id_a < id_b, ids in the dtype of ``ids``."""
    ids, blocks = _pair_blocks(ids, vectors, column)
    out_a, out_b, out_c = [ids[:0]], [ids[:0]], [np.empty(0)]
    for i, cos in blocks:
        keep = cos >= threshold  # nan (zero-norm) fails, like NULL
        if keep.any():
            out_a.append(np.full(int(keep.sum()), ids[i], dtype=ids.dtype))
            out_b.append(ids[i + 1 :][keep])
            out_c.append(cos[keep])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def near_dup_ids(ids: np.ndarray, vectors, column: str, tau: float) -> np.ndarray:
    """Ids with a lower-id row at cos >= tau. EVERY lower id counts,
    dropped or not (no greedy chaining)."""
    ids, blocks = _pair_blocks(ids, vectors, column)
    dropped = np.zeros(len(ids), dtype=bool)
    for i, cos in blocks:
        dropped[i + 1 :] |= cos >= tau  # nan (zero-norm) fails, like NULL
    return ids[dropped]


def nearest_codes(rows: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """Per row, the index of the least-L2² codebook row."""
    dist = np.empty((len(rows), len(codebook)), dtype=np.float64)
    for j, code in enumerate(codebook):
        dist[:, j] = l2sq(rows, code)
    return np.argmin(dist, axis=1)


def adc_distances(mat: np.ndarray, codebooks: list[np.ndarray], tables: list[np.ndarray]) -> np.ndarray:
    """PQ asymmetric distance: per subspace, the query's table entry
    for the row's nearest code, summed left-assoc in subspace order."""
    d = codebooks[0].shape[1]
    acc = None
    for s, (codebook, table) in enumerate(zip(codebooks, tables)):
        t = table[nearest_codes(mat[:, s * d : (s + 1) * d], codebook)]
        acc = t if acc is None else acc + t
    return acc


def argmax_cosine_blas(mat: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """Per row, the index of the most cosine-similar codebook row: one
    BLAS matmul per batch (last-ulp caveat above)."""
    unit = [a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-300) for a in (mat, codebook)]
    return np.argmax(unit[0] @ unit[1].T, axis=1)
