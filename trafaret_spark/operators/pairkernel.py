"""The grouped pair kernel: all-pairs scoring inside Arrow groups.

Every in-group verify (blocked and LSH cosine near-dup, blocked n-gram
Jaccard) runs as ONE exchange on the group key followed by
:func:`grouped_pairs`, a ``groupBy().applyInArrow`` wrapper that hands each
group's rows to a scorer and returns only the surviving pairs. The
quadratic candidate set never leaves the kernel as rows. Data stays in
Arrow end to end: list columns become numpy matrices through
:func:`list_matrix` (one flatten + reshape, no per-row Python), so NaN and
NULL arrive and leave as different values and need no reconstruction
JVM-side. :func:`pair_dot` is the row-wise form of the same dot product
for scoring already-paired rows.

Exactness contract — what every scorer reproduces bit-for-bit against the
expression it replaced (``try_divide(dot(a, b), l2(a) * l2(b))`` for
cosine, ``size(array_intersect) / union`` for Jaccard, each after a
``USING`` self-join filtered to ``a < b``):

  * dot products are a strict LEFT FOLD over element products in
    ascending index order, starting from +0.0 — the JVM ``aggregate``'s
    IEEE-754 operation sequence. A BLAS product only PREFILTERS: its error
    against the fold is bounded (``|G − X| ≤ 2γ_d·Σ|aᵢbᵢ|``), so it sends
    a provable superset of survivors to the fold and never decides a sim;
  * norms are the JVM ``l2_norm`` doubles, computed once per row and
    shipped in, so the denominator is the same product of two doubles;
  * NULL rules: a NULL group key, a NULL id, or a NULL norm (NULL vector
    or NULL element) / NULL shingle array can never produce a pair under
    the expression (the join, ``a < b`` or the division yields NULL), so
    :func:`grouped_pairs` drops those rows BEFORE grouping. A NULL
    *element* of a shingle array is one more set member that matches
    another NULL, as in ``array_intersect``. A NULL list element read into
    a matrix is NaN, and its row's NULL norm keeps the cosine NULL;
  * NaN: a NaN sim (NaN/Inf elements) passes ``>= threshold`` — Spark
    orders NaN above every number — and is returned as NaN; a zero
    denominator gives NULL (``try_divide``) and never passes;
  * pairs are strictly ``a < b`` by id, in the id column's own ordering;
    rows with equal ids never pair, and duplicate ROWS of one id pair once
    per row, as the join did;
  * vectors pair only with vectors of EQUAL length (``zip_with`` pads a
    shorter side with NULL, which makes the sim NULL).

Memory per Python worker is one group's rows plus one pair chunk:
:func:`pair_blocks` sizes every chunk so pairs × bytes-per-pair stays
within ``PAIR_BUDGET``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bytes one pair-chunk temporary may hold (2 MiB: 262 144 doubles).
PAIR_BUDGET = 1 << 21

_U = 1.1102230246251565e-16        # unit roundoff of float64


def list_matrix(arr, dim: "int | None" = None):
    """(rows × d) float64 matrix of a ``list<float|double>`` Arrow array,
    plus the boolean mask of the rows that fill it: non-NULL with exactly
    ``d`` elements. ``d`` is ``dim`` or, without it, the longest row.
    Other rows are zero; a NULL element reads as NaN. Bit-equal to a
    per-row ``np.vstack`` of the same rows."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(arr), -1).to_numpy(
        zero_copy_only=False)
    d = dim or max(int(lens.max(initial=0)), 0)
    ok = lens == d
    mat = np.zeros((len(arr), d), dtype=np.float64)
    if ok.any():
        vals = arr.filter(pa.array(ok)).flatten().to_numpy(
            zero_copy_only=False)
        mat[ok] = vals.astype(np.float64).reshape(int(ok.sum()), d)
    return mat, ok


def pair_blocks(m: int, width: int, budget: int = PAIR_BUDGET):
    """Yield ``(i, j)`` index arrays covering every ``i < j < m`` exactly
    once, in row-major order, with at most ``max(1, budget // width)``
    pairs per chunk — ``width`` is the bytes one pair takes in the
    caller's widest temporary, so no temporary exceeds ``budget``."""
    total = m * (m - 1) // 2
    if total <= 0:
        return
    r = np.arange(m, dtype=np.int64)
    starts = r * (2 * m - r - 1) // 2          # first pair index of row r
    step = max(1, budget // max(1, width))
    for p0 in range(0, total, step):
        p = np.arange(p0, min(p0 + step, total), dtype=np.int64)
        i = np.searchsorted(starts, p, side="right") - 1
        yield i, p - starts[i] + i + 1


def _pair_table(tbl: pa.Table, pi, pj, score, score_col: str,
                keys: "list[str]") -> pa.Table:
    """The one output step for every scorer: drop equal-id pairs, orient
    each pair to ``a < b`` in the id column's order, and return a
    schema-typed table (group keys repeated from the group's first row
    when ``keys``)."""
    ids = tbl.column("__id").combine_chunks()
    rank = pc.rank(ids, tiebreaker="dense").to_numpy()
    ra, rb = rank[pi], rank[pj]
    keep = ra != rb
    swap = (rb < ra)[keep]
    pi, pj, score = pi[keep], pj[keep], score[keep]
    a, b = np.where(swap, pj, pi), np.where(swap, pi, pj)
    cols = {k: tbl.column(k).take(np.zeros(len(a), dtype=np.int64))
            for k in keys}
    cols.update({"a": ids.take(a), "b": ids.take(b),
                 score_col: pa.array(score, pa.float64())})
    return pa.table(cols)


def grouped_pairs(src: DataFrame, keys: "list[str]", score, score_col: str,
                  emit_keys: bool, nonnull: "tuple[str, ...]" = ()
                  ) -> DataFrame:
    """The one grouped entry point: ``src`` has ``keys``, ``__id`` and whatever
    ``score`` reads. Rows with a NULL key, id or ``nonnull`` column are
    dropped (they can never pair — see the module docstring), then one
    exchange on ``keys`` and ``score(group_table) → (i, j, score)`` per
    group. Output: ``[*keys if emit_keys], a, b, <score_col>``."""
    fields = [src.schema[k] for k in keys] if emit_keys else []
    id_type = src.schema["__id"].dataType
    fields += [T.StructField("a", id_type), T.StructField("b", id_type),
               T.StructField(score_col, T.DoubleType())]
    out_keys = list(keys) if emit_keys else []

    def kernel(tbl: pa.Table) -> pa.Table:
        pi, pj, s = score(tbl)
        return _pair_table(tbl, pi, pj, s, score_col, out_keys)

    for c in [*keys, "__id", *nonnull]:
        src = src.filter(F.col(c).isNotNull())
    return src.groupBy(*keys).applyInArrow(kernel, T.StructType(fields))


def _concat_pairs(parts):
    """One ``(i, j, score)`` triple of arrays from a scorer's parts."""
    if not parts:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.float64)
    return tuple(np.concatenate(x) for x in zip(*parts))


def cosine_scorer(threshold: float):
    """Exact cosine ``>= threshold`` (NaN kept) over a group with
    ``__v`` (``list<double>``) and ``__n`` (its JVM ``l2_norm``): BLAS
    prefilter, then the strict left fold on the survivors."""
    thr = float(threshold)

    def score(tbl: pa.Table):
        vs = tbl.column("__v").combine_chunks()
        norms = tbl.column("__n").to_numpy()
        lens = pc.list_value_length(vs).to_numpy(zero_copy_only=False)
        parts = []
        for d in np.unique(lens):               # equal-length pairs only
            ix = np.flatnonzero(lens == d)
            if len(ix) > 1:
                A, _ = list_matrix(vs.take(ix), int(d))
                for ci, cj, s in _cosine_block(A, norms[ix], thr):
                    parts.append((ix[ci], ix[cj], s))
        return _concat_pairs(parts)

    return score


def _cosine_block(A, nn, thr):
    m, d = A.shape
    # dim-major layout: the exact fold gathers from one cache-resident
    # m-vector per dimension instead of materializing (pairs × d) matrices
    AT = np.ascontiguousarray(A.T)
    absA = np.abs(A)
    # BLAS prefilter with a RIGOROUS error margin (~30× less work than
    # folding every pair): a dgemm dot G and the exact left-fold X both
    # differ from the true dot by at most γ_d·Σ|aᵢbᵢ| (standard fp
    # summation bound, γ_d ≈ d·u), so |G − X| ≤ 2γ_d·S with S = Σ|aᵢbᵢ| —
    # computed as a second matmul on |A|. A pair can only satisfy
    # fl(X/den) ≥ t (or be NaN) if G + margin ≥ t·den, with the margin
    # inflated 2× for the fp error of S/t·den themselves and a 4-ulp slack
    # on the comparison; non-finite G/S/den are always sent to the exact
    # path (NaN/Inf semantics live there).
    gamma4 = 4.0 * d * _U
    # 16 bytes per pair: the chunk's G and S rectangles
    for ci, cj in pair_blocks(m, 16):
        r0, r1, c0 = ci[0], ci[-1] + 1, cj.min()
        gi, gj = ci - r0, cj - c0
        G = A[r0:r1] @ A[c0:].T
        S = absA[r0:r1] @ absA[c0:].T
        g, s = G[gi, gj], S[gi, gj]
        den = nn[ci] * nn[cj]
        rhs = thr * den
        with np.errstate(invalid="ignore", over="ignore"):
            sel = g + gamma4 * s >= rhs - 9.0e-16 * np.abs(rhs)
            sel |= ~np.isfinite(g) | ~np.isfinite(s) | ~np.isfinite(den)
        if not sel.any():
            continue
        ci, cj, den = ci[sel], cj[sel], den[sel]
        acc = np.zeros(len(ci), dtype=np.float64)
        for k in range(d):          # strict left fold — the JVM
            col = AT[k]             # aggregate()'s order: products
            acc += col[ci] * col[cj]  # per dim, added ascending
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = acc / den
        keep = (den != 0.0) & ((sims >= thr) | np.isnan(sims))
        if keep.any():
            yield ci[keep], cj[keep], sims[keep]


def _popcount64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized SWAR popcount over uint64 (numpy < 2.0 has no
    bitwise_count)."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h1 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h1) >> np.uint64(56)


def _sum_by_key(k, c):
    """Sorted distinct keys of ``k`` with the summed counts ``c`` of each."""
    if not len(k):
        return k, c
    o = np.argsort(k, kind="stable")
    k, c = k[o], c[o]
    b = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    return k[b], np.add.reduceat(c, b)


def jaccard_scorer(threshold: float):
    """Exact set Jaccard ``>= threshold`` over a group with ``__sh``
    (``list<string>`` of distinct shingles). Intersections are integer
    counts and ``jaccard`` the same single double division the
    expression computed. Two strategies, chosen per group by vocabulary
    size V:

      * V ≤ 65 536: per-doc BITSET over the group vocabulary (≤ 8 KB/doc);
        pair intersection = popcount(maskᵢ & maskⱼ) over pair chunks —
        the dominant case once blocks are capped;
      * larger V: token-postings sweep — per shingle with df ≥ 2, emit
        (i·m + j) pair keys in chunks and sum them by key. Op count Σ df²
        never exceeds the old per-pair set-probe cost Σ(|a|+|b|); pending
        keys are compacted into the running (key, count) table whenever
        they pass the budget (or the table's own size), so memory stays
        the budget plus ~2× the distinct intersecting pairs.
    """
    thr = float(threshold)

    def score(tbl: pa.Table):
        sh = tbl.column("__sh").combine_chunks()
        m = len(sh)
        if m < 2:
            return _concat_pairs([])
        lens = pc.list_value_length(sh).to_numpy(
            zero_copy_only=False).astype(np.int64)
        enc = pc.dictionary_encode(sh.flatten(), null_encoding="encode")
        tids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        doc_idx = np.repeat(np.arange(m, dtype=np.int64), lens)
        V = len(enc.dictionary)
        parts = []

        def emit(pi, pj, inter):
            union = lens[pi] + lens[pj] - inter
            with np.errstate(divide="ignore", invalid="ignore"):
                jac = inter.astype(np.float64) / union.astype(np.float64)
            keep = jac >= thr
            if keep.any():
                parts.append((pi[keep], pj[keep], jac[keep]))

        if V <= 65_536:
            w = max(1, (V + 63) >> 6)
            bits = np.zeros((m, w), dtype=np.uint64)
            np.bitwise_or.at(
                bits, (doc_idx, tids >> 6),
                np.uint64(1) << (tids & 63).astype(np.uint64))
            for ci, cj in pair_blocks(m, 8 * w):
                inter = _popcount64(bits[ci] & bits[cj]).sum(
                    axis=1).astype(np.int64)
                emit(ci, cj, inter)
        else:
            order = np.argsort(tids, kind="stable")
            st, sd = tids[order], doc_idx[order]
            runs = np.r_[np.flatnonzero(np.r_[True, st[1:] != st[:-1]]),
                         len(st)]
            K = C = np.empty(0, dtype=np.int64)
            pend, npend = [], 0

            def compact():
                nonlocal K, C, npend
                K, C = _sum_by_key(
                    np.concatenate([K, *pend]),
                    np.concatenate([C, np.ones(npend, dtype=np.int64)]))
                pend.clear()
                npend = 0

            for lo, hi in zip(runs[:-1], runs[1:]):
                if hi - lo < 2:
                    continue
                docs = np.sort(sd[lo:hi])
                for ci, cj in pair_blocks(hi - lo, 8):
                    pend.append(docs[ci] * m + docs[cj])
                    npend += len(ci)
                    if 8 * npend >= max(PAIR_BUDGET, K.nbytes):
                        compact()
            compact()
            emit(K // m, K % m, C)
        return _concat_pairs(parts)

    return score


def pair_dot(a: Column, b: Column) -> Column:
    """Row-wise exact dot of two ``array<double>`` columns in one Arrow
    kernel — the strict left fold of the module contract, vectorized per
    batch as ``dim`` column adds, where the JVM ``aggregate(zip_with(..))``
    runs ~2·dim interpreted lambdas per row. NULL when either side is
    NULL or the lengths differ (the expression's NULL); a NaN dot stays
    NaN."""
    @F.arrow_udf("double")
    def _dot(va: pa.Array, vb: pa.Array) -> pa.Array:
        la = pc.fill_null(pc.list_value_length(va), -1).to_numpy(
            zero_copy_only=False)
        lb = pc.fill_null(pc.list_value_length(vb), -1).to_numpy(
            zero_copy_only=False)
        ok = (la == lb) & (la >= 0)
        out = np.zeros(len(la), dtype=np.float64)
        for d in np.unique(la[ok]):
            ix = np.flatnonzero(ok & (la == d))
            A, _ = list_matrix(va.take(ix), int(d))
            B, _ = list_matrix(vb.take(ix), int(d))
            prod = A * B
            acc = np.zeros(len(ix), dtype=np.float64)
            for j in range(int(d)):         # strict left fold
                acc += prod[:, j]
            out[ix] = acc
        return pa.array(out, mask=~ok)

    # nondeterministic: the optimizer may not push a `sim >= t` filter
    # below the Arrow node and evaluate the kernel twice
    return _dot.asNondeterministic()(a, b)
