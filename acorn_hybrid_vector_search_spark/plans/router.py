"""Strategy routing — the reference's research question as a planner.

The reference compares three physical strategies by hand (run a different
script per strategy; /root/reference/README.md:19-25) and observes:

- pre-filter: always exact; cost ∝ rows surviving the predicate
  (/root/reference/pre-filter.py:183-229);
- post-filter: cheap when the predicate is UNselective (top-``large_k``
  mostly survives), accuracy collapses when selective
  (/root/reference/acorn.py:52-144);
- attribute-specific index: wins when the query constrains a sparse
  attribute with a dedicated materialization
  (/root/reference/acorn_attribute_specific.py:44-77).

This module encodes that decision as a cost-model helper: estimate the
predicate's selectivity from cached attribute histograms (A1 as
``groupBy().count()`` — computed once, collected, reused), then pick the
strategy. At 100 TB the histogram is a tiny driver-side dict (distinct
attribute values, not rows) while the decision it informs moves terabytes:
routing to a materialized subset prunes entire partitions before any scan.

Histograms are equi-frequency-ish summaries, not oracle truth — estimates
combine per-attribute independence (standard Selinger assumption). The
router is deliberately library-level (no Catalyst internals): it chooses
WHICH DataFrame plan to build; Catalyst still optimizes the chosen plan.

Point queries over a small cached corpus skip the plan altogether.
``collect_stats`` on a cached frame within ``snapshot.BUDGET_BYTES`` (and
``register_subset`` on a cached subset) takes the frame's driver
snapshot, and ``StrategyRouter.search`` answers each route from it with
the route's own semantics and the Spark plan's rows, without a Spark job
(``operators/snapshot.py``): the index is built in Spark, and one
query over a few tens of MB is served outside it.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.functions.predicates import (
    AttributeAccessor,
    abo_accessors,
    build_predicate,
)
from acorn_hybrid_vector_search_spark.operators import snapshot
from acorn_hybrid_vector_search_spark.operators.hybrid import (
    postfilter_search,
    prefilter_search,
    prefilter_search_batch,
)

Predicates = Mapping[str, Sequence[Any]]


@dataclass
class AttributeStats:
    """Driver-side summary of one attribute: value → row count."""

    counts: dict[Any, int]
    n_rows: int
    n_null: int

    @property
    def present_fraction(self) -> float:
        return (self.n_rows - self.n_null) / self.n_rows if self.n_rows else 0.0


@dataclass
class TableStats:
    n_rows: int
    attrs: dict[str, AttributeStats] = field(default_factory=dict)


def collect_stats(df: DataFrame, attrs: Sequence[str], max_distinct: int = 10_000) -> TableStats:
    """A1 per attribute, collected to the driver.

    On a cached frame within ``snapshot.BUDGET_BYTES`` this takes the
    frame's driver snapshot (one job) and computes every histogram from
    it. Otherwise it runs one count, then one ``groupBy(attr).count()``
    collect per attribute. ``max_distinct`` caps a histogram: an
    attribute with more distinct values (the NULL group counted) keeps a
    count-only summary, its exact NDV and NULL count (selectivity is then
    estimated as 1/NDV), which costs two more jobs on the Spark path.
    Both paths give equal stats.
    """
    snap = snapshot.take(df)
    n_rows = snap.table.num_rows if snap is not None else df.count()
    stats = TableStats(n_rows=n_rows)
    for attr in attrs:
        hist = snapshot.histogram(snap, attr, max_distinct) if snap is not None else None
        counts, n_null, ndv = hist or _spark_histogram(df, attr, max_distinct)
        st = stats.attrs[attr] = AttributeStats(counts, n_rows, n_null)
        if ndv is not None:
            # sentinel: empty counts dict with known NDV → uniform estimate
            st.ndv = ndv  # type: ignore[attr-defined]
    return stats


def _spark_histogram(df: DataFrame, attr: str, max_distinct: int):
    """``(counts, n_null, ndv)`` of ``attr`` by Spark aggregates; ``ndv``
    is None unless the attribute has more than ``max_distinct`` groups."""
    agg = df.groupBy(attr).agg(F.count(F.lit(1)).alias("cnt"))
    rows = agg.limit(max_distinct + 1).collect()
    if len(rows) > max_distinct:
        return {}, df.filter(F.col(attr).isNull()).count(), agg.count()
    counts = {r[attr]: r["cnt"] for r in rows if r[attr] is not None}
    n_null = next((r["cnt"] for r in rows if r[attr] is None), 0)
    return counts, n_null, None


def _attr_selectivity(st: AttributeStats, op: str, value: Any) -> float:
    """Fraction of ALL rows satisfying (attr op value); missing attribute
    rejects the row (SURVEY.md §2.3), so NULLs never count."""
    if st.n_rows == 0:
        return 0.0
    present = st.n_rows - st.n_null
    if not st.counts:  # high-NDV fallback: uniform over NDV
        ndv = getattr(st, "ndv", present or 1)
        return (present / st.n_rows) / max(ndv, 1) if op == "exact" else st.present_fraction / 3.0
    matched = 0
    for v, cnt in st.counts.items():
        try:
            if op == "exact":
                ok = v == value
            elif op == "substring":
                ok = str(value) in str(v)
            elif op in ("leq", "<="):
                ok = float(v) <= float(value)
            elif op in ("geq", ">="):
                ok = float(v) >= float(value)
            elif op == "<":
                ok = float(v) < float(value)
            elif op == ">":
                ok = float(v) > float(value)
            else:
                ok = True  # unknown op ⇒ constraint ignored (reference semantics)
        except (TypeError, ValueError):
            ok = False
        if ok:
            matched += cnt
    return matched / st.n_rows


def estimate_selectivity(stats: TableStats, predicates: Predicates | None) -> float:
    """Conjunction selectivity under attribute independence."""
    if not predicates:
        return 1.0
    s = 1.0
    for attr, (op, value) in predicates.items():
        st = stats.attrs.get(attr)
        if st is None:
            s *= 0.33  # unseen attribute: conservative guess
        else:
            s *= _attr_selectivity(st, op, value)
    return s


@dataclass
class Route:
    strategy: str  # "prefilter" | "postfilter" | "subset"
    selectivity: float
    large_k: int | None = None
    subset_name: str | None = None


# Committed recall floors (RECALL.md, min across ALL measured scales —
# sf0.01, sf0.1, and the round-5 x16 ladder at 32k vectors; the curves
# are measured on near-uniform vectors, IVF/NSW's adversarial case, so
# these are floors; real clustered corpora sit higher). IVF recall
# SOFTENS with corpus size on this geometry (more vectors per cluster
# boundary), so the 32k point sets most floors; NSW recall RISES with
# corpus size, so its floors stay the small-scale numbers.
# IVF: recall@10 per nprobe of 16 clusters (scan fraction nprobe/16).
IVF_RECALL: tuple[tuple[int, float], ...] = (
    (1, 0.285),
    (2, 0.383),
    (4, 0.492),
    (8, 0.742),
)
# NSW: recall@10 per search beam ef (m=8, ef_construction=32).
NSW_RECALL: tuple[tuple[int, float], ...] = (
    (16, 0.900),
    (32, 0.920),
    (64, 0.945),
)
# ACORN-γ predicate-subgraph walk over a γ=4 store: recall@10 per
# max_visits budget UNDER A PREDICATE (selectivity 0.1, ef=64, x16
# ladder — BENCH_LADDER `acorn_gamma`). The plain-NSW curve above is
# measured UNFILTERED; under a predicate the traverse-all walk burns
# ~1/s of its budget per returnable node (0.86 recall at mv=128 on the
# same data), so when a query carries predicates and a γ store exists,
# these rungs dominate the NSW ones.
NSW_GAMMA_RECALL: tuple[tuple[int, float], ...] = (
    (16, 0.931),
    (32, 0.994),
    (64, 1.000),
)


def _flat_passthrough(
    accessors: Mapping[str, AttributeAccessor], attr: str, *, numeric: bool
) -> bool:
    """True when dispatching ``attr``'s constraint to a zone-map-pruned
    rung cannot change semantics vs the prefilter fallback (ADVICE r10):
    the pruned rungs build their walk mask from the raw store column
    ``F.col(attr)``, so the accessor ``build_predicate`` would use on
    the fallback path must be a flat passthrough of the SAME-NAMED
    column — value expression ``col(attr)``, presence ``col(attr) IS
    NOT NULL`` (a nested accessor or a non-empty flatten prefix reads a
    different expression, and routing would silently diverge). For
    range ops the accessor must also be numeric-kind: ``build_predicate``
    silently IGNORES a range op on a string-kind accessor (§2.3
    unsupported-op fallthrough), so routing it would filter where the
    fallback would not.

    Two presence shapes qualify (review r11): the plain flat accessor
    (``col IS NOT NULL``) and the library's OWN covering-index shape
    (``extract_attribute_payloads``: presence is the stored
    ``<attr>__present`` boolean, value the stored flat column). The
    covering-index store writes ``when(present, value)`` into the flat
    column, so for the enforcing ops the raw-column walk mask is
    provably equivalent to ``present & (value op lit)``: a row with
    present=false has a NULL stored value (mask → NULL → rejected), and
    present=true with a NULL value rejects on both paths — refusing
    that shape would silently disable every pruned rung for exactly
    the accessor shape the library's index-build path produces."""
    acc = accessors.get(attr)
    if acc is None:
        return False
    col = F.col(attr)
    if str(acc.value) != str(col):
        return False
    present_ok = str(acc.present) in (
        str(col.isNotNull()),
        str(F.col(f"{attr}__present")),
    )
    if not present_ok:
        return False
    return acc.kind == "numeric" if numeric else True


# the §2.3 range spellings build_predicate ENFORCES ('<='/'>=' are
# accepted by nsw_read_topk directly but must NOT route — the builder
# ignores them, so the prefilter fallback would silently drop the
# constraint and results would depend on sidecar freshness; review r10)
_ROUTABLE_RANGE_OPS = ("leq", "geq", "<", ">")


def _conj_of(predicates: Predicates) -> dict:
    """§2.3 predicates as the zone-map conjunction ``{attr: (op,
    value)}`` that ``nsw_read_topk(prune_conj=...)`` takes."""
    return {attr: (list(spec)[0], list(spec)[1]) for attr, spec in dict(predicates).items()}


@dataclass
class AnnRoute:
    strategy: str  # "prefilter" | "exact" | "ivf_exact" | "nsw" | "nsw_gamma" | "ivf" | "nsw_pruned" | "nsw_pruned_match" | "nsw_pruned_range" | "nsw_pruned_conj"
    selectivity: float
    nprobe: int | None = None
    ef: int | None = None
    max_visits: int | None = None
    expected_recall: float = 1.0


# r13 (VERDICT r12 ask #1): the batch-dense kernel is the routed
# DEFAULT for walk-arm unions of at least this many queries. The value
# is the measured serving crossover (BENCH_LADDER ``serving_crossover``,
# r12): dense beats the ef=64 walk from |Q|=4 up on EVERY arm and is
# flat in |Q| (1.92 ms/q vs 7.81 at |Q|=256); being exact, every
# route's recall contract holds by construction. Pass
# ``dense_min_batch=None`` to ``ann_search_batch`` to pin the walk
# (bit-compatible batch ≡ per-query, bounded anytime-ACORN cost).
DENSE_SERVE_MIN_BATCH = 4


@dataclass
class AnnDispatch:
    """One kernel invocation of a batched routed dispatch — the unit of
    ``StrategyRouter.plan_ann_batch``'s plan. ``arm`` is the routing
    family (prefilter / nsw / nsw_gamma / pruned / ivf / ivf_exact);
    ``kernel`` is the physical executor (prefilter_batch / nsw_walk /
    nsw_dense / pruned_fold / ivf_batch / ivf_exact_batch); ``queries``
    are the (qid, vec, predicates) tuples the call serves; the budget
    fields carry the group's (ef, max_visits, nprobe) where the kernel
    consumes them (the dense kernel, being exact, ignores budgets)."""

    arm: str
    kernel: str
    queries: tuple
    ef: int | None = None
    max_visits: int | None = None
    nprobe: int | None = None


def dense_match_template(
    predicates: "Predicates | None",
    accessors: Mapping[str, AttributeAccessor],
) -> "tuple[str, str, Any] | None":
    """Decide whether ONE query's §2.3 predicate spec can take the
    dense kernels' zero-Catalyst template fast path; returns the
    ``(attr, op, value)`` template or None (keep the Catalyst
    ``build_predicate`` path — identical results either way,
    pytest-pinned).

    r13 shipped the path for single-attribute EXACT specs; r14 (VERDICT
    r13 ask #4) widens it to the serving battery's other single-
    attribute classes — ``substring`` (case-sensitive containment) and
    the numeric range ops — which the kernel evaluates executor-side
    from the raw payload column, flat in the number of DISTINCT
    templates (the heterogeneous-predicate cliff fix; BENCH_LADDER
    ``dense_predicate_cliff``). Eligibility:

    - exactly ONE attribute, spec arity 2 (``[op, value]`` — a
      malformed spec falls back to ``build_predicate``'s error path,
      ADVICE r13);
    - the accessor is a FLAT passthrough (value ≡ ``col``, present ≡
      ``col IS NOT NULL`` — the covering-index store shape): the
      executor reads the raw column, so derived/nested accessors keep
      Catalyst;
    - the (kind, op) pair is SUPPORTED by the §2.3 matrix (numeric:
      exact/leq/geq/</>; string: exact/substring) — an unsupported
      pair's presence-only fallthrough semantics stay with Catalyst;
    - the value is SAME-KIND (the executor-side pandas compare does no
      type coercion: int64 == "3" is all-False where Catalyst casts
      and matches, NaN never equals, bool is not a number — r13b
      self-review)."""
    if not predicates:
        return None
    spec = dict(predicates)
    if len(spec) != 1:
        return None
    ((attr, sp),) = spec.items()
    sp_l = list(sp)
    if len(sp_l) != 2:
        return None
    op, value = sp_l
    a = accessors.get(attr)
    if a is None:
        return None
    if a.kind == "numeric":
        kind_ok = (
            op in ("exact", "leq", "geq", "<", ">")
            and isinstance(value, (int, float))
            and not isinstance(value, bool)
            and value == value  # not NaN
        )
    elif a.kind == "string":
        kind_ok = op in ("exact", "substring") and isinstance(value, str)
    else:
        kind_ok = False
    if not kind_ok:
        return None
    if str(a.value) != str(F.col(attr)) or str(a.present) != str(
        F.col(attr).isNotNull()
    ):
        return None
    return (str(attr), str(op), value)


class StrategyRouter:
    """Chooses the physical strategy for one hybrid query.

    Decision rule (mirrors the reference's empirical findings):

    1. If the predicate constrains an attribute with a registered
       materialized subset AND the subset is much smaller than the base
       table → route to the subset (K5: partition pruning beats any
       full-table strategy).
    2. Else if expected survivors within a ``large_k`` candidate pool can
       fill k (``selectivity · large_k ≥ safety · k``) → post-filter (K3):
       one TakeOrderedAndProject over the raw table, predicate applied to
       ``large_k`` rows only.
    3. Else → exact pre-filter (K2): the predicate prunes the scan, the
       distance work runs only on survivors. Always correct.
    """

    def __init__(
        self,
        stats: TableStats,
        *,
        default_large_k: int = 50,
        safety: float = 2.0,
    ) -> None:
        self.stats = stats
        self.default_large_k = default_large_k
        self.safety = safety
        self._subsets: dict[str, tuple[DataFrame, frozenset[str], int]] = {}

    def register_subset(self, name: str, df: DataFrame, attrs: Sequence[str], n_rows: int) -> None:
        """Register a materialized attribute subset (K5 build output). A
        cached subset within the snapshot budget gets its driver snapshot
        now, as ``collect_stats`` gives the corpus its own."""
        snapshot.take(df)
        self._subsets[name] = (df, frozenset(attrs), n_rows)

    def route(self, predicates: Predicates | None, k: int) -> Route:
        sel = estimate_selectivity(self.stats, predicates)
        constrained = set(predicates or ())
        for name, (_df, attrs, n_rows) in self._subsets.items():
            if constrained & attrs and n_rows < 0.5 * self.stats.n_rows:
                return Route("subset", sel, subset_name=name)
        if sel * self.default_large_k >= self.safety * k:
            return Route("postfilter", sel, large_k=self.default_large_k)
        return Route("prefilter", sel)

    def route_ann(
        self,
        k: int,
        *,
        predicates: Predicates | None = None,
        min_recall: float = 1.0,
        has_ivf_index: bool = False,
        has_nsw_index: bool = False,
        has_gamma_store: bool = False,
        has_pruned_store: bool = False,
        pruned_attrs: "frozenset[str] | Sequence[str] | None" = None,
        pruned_range_attrs: "frozenset[str] | Sequence[str] | None" = None,
        pruned_substr_attrs: "frozenset[str] | Sequence[str] | None" = None,
        est_kept_fraction: float | None = None,
        small_corpus: int = 100_000,
        selective_cutoff: float = 0.05,
        kept_fraction_cutoff: float = 0.9,
    ) -> AnnRoute:
        """Pick the ANN escalation rung from corpus size × k ×
        selectivity × recall requirement, using RECALL.md's committed
        curves (round-3 verdict item #7). The escalation ladder, cheap
        to expensive:

            NSW(ef 16→64)  →  IVF(nprobe 1→8)  →  IVF ball-bound
            exact (ivf_exact)  →  brute-force exact

        Decision rules (each grounded in a measured finding):

        1. Selective predicate (sel ≤ ``selective_cutoff``) → exact
           PREFILTER: the scan only touches survivors, and approximate
           recall under filtering degrades (the reference's own ACORN
           motivation) — exact is both cheaper and correct here.
        2. Tiny corpus (≤ ``small_corpus`` rows) → brute-force exact:
           k·n distance work is below index build/probe overhead.
        3. Recall budget < 1.0 → the cheapest rung meeting it. NSW
           outranks IVF at every measured recall level (RECALL.md:
           recall 0.90 at ef=16 where IVF needs nprobe=8 = half the
           table — graph traversal adapts to local geometry, cluster
           pruning can't), so NSW is tried first when its index
           exists; IVF rungs otherwise. The NSW curve tops out at
           0.945 (ef=64) — a stricter budget falls through to exact.
           r8b: when the query carries predicates AND a γ-densified
           store exists (``nsw_write(gamma>1)``), the ACORN-γ subgraph
           rungs (max_visits 16/32/64 at the measured sel-0.1 curve,
           topping out at 1.0) outrank plain NSW — the traverse-all
           walk's unfiltered floors do not hold under a predicate.
        4. Exact demanded (or nothing meets the budget) → ``ivf_exact``
           (ball-bound pruned, provably exact, scans a data-adaptive
           fraction) when an IVF index exists, else brute force.
        5. r9: exact demanded, NO predicate, and a CLUSTERED graph
           store with fresh ball stats exists (``nsw_write_clustered``)
           → ``nsw_pruned``: full-beam pruned store search — provably
           exact via the same τ cover bound, and the measured fan-out
           shape beats ivf_exact's two-phase scan (BENCH_LADDER
           ``nsw_prune``: pruned cost stays flat as shard count grows,
           1.6% of rows walked at 256+ shards). Arbitrary predicates
           exclude the rung — the bound covers the kth UNFILTERED
           neighbor only (nsw_read_topk raises; the router never
           routes into a guard). r10: the rung also consults
           ``est_kept_fraction`` (the driver-side prune-plan estimate
           for THIS query, ``graph_ann.estimate_kept_fraction``) —
           ball bounds weaken with dimension, and a plan keeping
           > ``kept_fraction_cutoff`` of the rows pays the stats
           machinery for no skipped I/O, so it falls back to
           ``ivf_exact`` when that index exists.
        6. r10-r11: a predicate whose EVERY term is covered by a FRESH
           zone map of the clustered store — exact terms by per-shard
           value counts (``pruned_attrs``, from
           ``graph_ann.pruned_match_attrs``), ``leq/geq/</>`` terms
           (exactly the op spellings build_predicate enforces) by
           numeric min/max zone maps (``pruned_range_attrs``, from
           ``graph_ann.pruned_range_attrs``), substring terms on
           string-kind passthrough accessors by the value counts
           (``pruned_substr_attrs``) — routes to the zone-map-pruned
           hybrid walk, provably exact under the conjunction (the τ
           cover counts certain PASSING members; provably-empty shard
           dirs are never read) and measured up to 1.8× over the
           filter-only walk (BENCH_LADDER ``nsw_prune`` match
           columns). The label names the shape: ``nsw_pruned_match``
           (one exact term), ``nsw_pruned_range`` (one range term —
           the reference's class-2/3 shape, acorn.py:176-185) or
           ``nsw_pruned_conj`` (one substring term or several terms,
           acorn.py:296-298). Outranks the selective prefilter rule:
           at scale the prefilter scan still touches every row group
           of the base table while the zone maps skip whole shard
           directories. Any other op or an uncovered attr refuses
           (pruning is only sound where per-shard passing statistics
           exist). A sub-1.0 recall budget with a γ store still
           prefers the cheaper budgeted subgraph walk.
        """
        sel = estimate_selectivity(self.stats, predicates)
        n = self.stats.n_rows
        # rule 6 (r10): the ACORN×SPANN zone-map rung — checked before
        # the selective-prefilter rule (it answers the same exact
        # pre-filter oracle while reading only passing shards)
        if (
            predicates
            and has_pruned_store
            and not (min_recall < 1.0 and has_gamma_store)
        ):
            match_cover = set(pruned_attrs or ())
            range_cover = set(pruned_range_attrs or ())
            substr_cover = set(pruned_substr_attrs or ())

            def _conj_term_ok(attr: str, op: str) -> bool:
                # exact op → per-shard value counts; §2.3 range op →
                # numeric zone maps; substring → per-shard value counts
                # summed over distinct keys containing the needle
                # (EXACT, not a bound — the sidecar enumerates every
                # distinct value), gated on a STRING-kind passthrough
                # accessor (substr_cover: build_predicate ignores
                # substring on numeric kinds, so routing those would
                # filter where the fallback would not). Any other op
                # refuses — no zone-map evidence.
                if op == "exact":
                    return attr in match_cover
                if op == "substring":
                    return attr in substr_cover
                # ONLY the §2.3 range spellings build_predicate
                # ENFORCES ('<='/'>=' are not §2.3 ops — the builder
                # ignores them, so routing them would make the result
                # depend on sidecar freshness — review r10)
                return op in _ROUTABLE_RANGE_OPS and attr in range_cover

            # every constrained attr must be covered by the matching
            # fresh sidecar; the label names the predicate's shape, and
            # so the sidecar that serves it
            conj = _conj_of(predicates)
            if all(_conj_term_ok(attr, op) for attr, (op, _) in conj.items()):
                ops = [op for op, _ in conj.values()]
                if ops == ["exact"]:
                    return AnnRoute("nsw_pruned_match", sel)
                if len(ops) == 1 and ops[0] in _ROUTABLE_RANGE_OPS:
                    return AnnRoute("nsw_pruned_range", sel)
                return AnnRoute("nsw_pruned_conj", sel)
        if predicates and sel <= selective_cutoff:
            return AnnRoute("prefilter", sel)
        if n <= small_corpus and not (
            has_ivf_index or has_nsw_index or has_gamma_store
            or has_pruned_store
        ):
            return AnnRoute("exact", sel)
        if min_recall < 1.0:
            # r8b: a query WITH predicates over a γ-densified store
            # routes to the subgraph walk first — its budget is spent
            # on returnable nodes only, and its measured filtered-recall
            # curve dominates plain NSW's unfiltered one (which the
            # filter-functor walk does not meet under a predicate)
            if predicates and has_gamma_store:
                for mv, r in NSW_GAMMA_RECALL:
                    if r >= min_recall:
                        return AnnRoute(
                            "nsw_gamma", sel, ef=max(64, k),
                            max_visits=mv, expected_recall=r,
                        )
            if has_nsw_index:
                for ef, r in NSW_RECALL:
                    if r >= min_recall:
                        return AnnRoute("nsw", sel, ef=max(ef, k), expected_recall=r)
            if has_ivf_index:
                for nprobe, r in IVF_RECALL:
                    if r >= min_recall:
                        return AnnRoute("ivf", sel, nprobe=nprobe, expected_recall=r)
        if not predicates and has_pruned_store:
            if (
                est_kept_fraction is not None
                and est_kept_fraction > kept_fraction_cutoff
                and has_ivf_index
            ):
                # the prune plan would keep ~everything for this query
                # (high dimension / overlapping balls): the stats
                # machinery buys no skipped I/O — take the IVF
                # two-phase exact scan instead
                return AnnRoute("ivf_exact", sel)
            return AnnRoute("nsw_pruned", sel)
        if has_ivf_index:
            return AnnRoute("ivf_exact", sel)
        return AnnRoute("exact", sel)

    def search(
        self,
        df: DataFrame,
        query_vec: Sequence[float],
        predicates: Predicates | None,
        k: int,
        **kw: Any,
    ) -> DataFrame:
        """The routed answer: pre-filter, post-filter (top ``large_k`` by
        (dist, id), then the predicate, then k) or pre-filter over the
        subset. From the target's driver snapshot as a local relation when
        it can answer (module docstring; keyed by the frame object, so
        only the frames given to ``collect_stats``/``register_subset``),
        else the route's Spark plan."""
        r = self.route(predicates, k)
        target = self._subsets[r.subset_name][0] if r.strategy == "subset" else df
        served = snapshot.search(target, query_vec, predicates, k, large_k=r.large_k, **kw)
        if served is not None:
            return served
        if r.strategy == "postfilter":
            return postfilter_search(df, query_vec, predicates, k, large_k=r.large_k, **kw)
        return prefilter_search(target, query_vec, predicates, k, **kw)

    def _pruned_facts(
        self,
        spark,
        pruned_path: "str | None",
        predicates: Predicates | None,
        acc: Mapping[str, AttributeAccessor],
        query_vec,
        k: int,
    ) -> tuple:
        """(prunable, pruned_attrs, range_attrs, substr_attrs, est_kept)
        for ONE query over the clustered store — the evidence
        ``route_ann`` consults so rules 5/6 never route into a guard:

        - a tombstoned store refuses EVERY pruned read (the stats count
          dead members), so it reads as having no pruned store at all
          (review r10); compact/recluster restores the rungs;
        - sidecar loads are shaped to the predicate — only the arm that
          can actually fire pays its (memoized, O(1)-token
          freshness-checked) driver-side read, and a predicate-free
          query never loads the attr/numeric sidecars (review r10);
        - each constrained attr must be a FLAT PASSTHROUGH of the
          same-named store column under the caller's accessors
          (ADVICE r10, ``_flat_passthrough``) — a nested accessor would
          make route choice change semantics, so such attrs read as
          uncovered and rule 6 never fires for them;
        - predicate-free: ``estimate_kept_fraction`` None (stale or
          missing ball stats) demotes the store entirely (ADVICE r10 —
          rule 5 used to dispatch straight into the staleness guard)."""
        pruned_attrs = None
        range_attrs = None
        substr_attrs = None
        est_kept = None
        prunable = False
        if pruned_path is None:
            return prunable, pruned_attrs, range_attrs, substr_attrs, est_kept
        from acorn_hybrid_vector_search_spark.operators.graph_ann import (
            estimate_kept_fraction,
            pruned_match_attrs,
            pruned_range_attrs,
            store_has_tombstones,
        )

        def _substr_safe(a: str) -> bool:
            # substring routes only over STRING-kind passthrough
            # accessors: build_predicate ignores substring on numeric
            # kinds (§2.3 fallthrough), so routing those would filter
            # where the prefilter fallback would not (r11b)
            return (
                a in acc
                and acc[a].kind == "string"
                and _flat_passthrough(acc, a, numeric=False)
            )

        prunable = not store_has_tombstones(spark, pruned_path)
        if prunable and predicates:
            wants_exact = any(
                list(s)[0] == "exact"
                and _flat_passthrough(acc, a, numeric=False)
                for a, s in dict(predicates).items()
            )
            wants_range = any(
                list(s)[0] in _ROUTABLE_RANGE_OPS
                and _flat_passthrough(acc, a, numeric=True)
                for a, s in dict(predicates).items()
            )
            wants_substr = any(
                list(s)[0] == "substring" and _substr_safe(a)
                for a, s in dict(predicates).items()
            )
            if wants_exact or wants_substr:
                cover = pruned_match_attrs(spark, pruned_path)
                if wants_exact:
                    pruned_attrs = frozenset(
                        a
                        for a in cover
                        if _flat_passthrough(acc, a, numeric=False)
                    )
                if wants_substr:
                    substr_attrs = frozenset(
                        a for a in cover if _substr_safe(a)
                    )
            if wants_range:
                range_attrs = frozenset(
                    a
                    for a in pruned_range_attrs(spark, pruned_path)
                    if _flat_passthrough(acc, a, numeric=True)
                )
        elif prunable and not predicates:
            est_kept = estimate_kept_fraction(
                spark, pruned_path, query_vec, k
            )
            if est_kept is None:
                prunable = False
        return prunable, pruned_attrs, range_attrs, substr_attrs, est_kept

    def ann_search(
        self,
        df: DataFrame,
        query_vec: Sequence[float],
        predicates: Predicates | None,
        k: int,
        *,
        min_recall: float = 1.0,
        ivf_index: Any = None,
        nsw_path: str | None = None,
        gamma_path: str | None = None,
        pruned_path: str | None = None,
        accessors: Mapping[str, AttributeAccessor] | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Execute the rung ``route_ann`` picks — the ``dedup_search``
        symmetry for the ANN ladder (route → run, one call). Index
        availability is what the caller passes: an ``IVFIndex`` (built
        or ``ivf_read``), an ``nsw_write`` store path, a γ-densified
        store path (``nsw_write(gamma>1)`` with payload columns covering
        every attribute ``predicates`` may constrain — the caller's
        covering-index contract, `extract_attribute_payloads`).

        Predicate handling per rung: prefilter/exact run the §2.3
        conjunction in the scan; nsw/nsw_gamma evaluate it in CATALYST
        on the stored node table (filter-functor / subgraph walk);
        ``ivf`` applies it after the nprobe pruning (``ivf_search``'s
        predicate param); a predicate whose every term is covered by a
        fresh zone map of the clustered store dispatches to one
        ``nsw_read_topk(prune=True, prune_conj=...)`` read (the
        ``nsw_pruned_match`` / ``nsw_pruned_range`` / ``nsw_pruned_conj``
        rungs — provably exact under the conjunction). Any OTHER
        exact-required query with predicates falls back to the exact
        prefilter scan; ``ivf_search_exact`` runs only predicate-free,
        since its ``conj`` pruning needs per-list zone maps the router
        does not track — exactness is never traded for a prune."""
        acc = accessors or abo_accessors()
        (
            prunable, pruned_attrs, range_attrs, substr_attrs, est_kept,
        ) = self._pruned_facts(
            df.sparkSession, pruned_path, predicates, acc, query_vec, k
        )
        route = self.route_ann(
            k,
            predicates=predicates,
            min_recall=min_recall,
            has_ivf_index=ivf_index is not None,
            has_nsw_index=nsw_path is not None,
            has_gamma_store=gamma_path is not None,
            has_pruned_store=prunable,
            pruned_attrs=pruned_attrs,
            pruned_range_attrs=range_attrs,
            pruned_substr_attrs=substr_attrs,
            est_kept_fraction=est_kept,
        )
        pred_col = (
            build_predicate(predicates, acc) if predicates else None
        )
        if route.strategy in ("prefilter", "exact"):
            return prefilter_search(
                df, query_vec, predicates, k,
                accessors=acc, id_col=id_col, vec_col=vec_col,
            )
        if route.strategy == "nsw_gamma":
            from acorn_hybrid_vector_search_spark.operators.graph_ann import (
                nsw_read_topk,
            )

            return nsw_read_topk(
                df.sparkSession, gamma_path, [(0, list(query_vec))], k,
                ef=route.ef, max_visits=route.max_visits,
                predicate=pred_col,
                strategy="subgraph" if pred_col is not None else "traverse_all",
                id_col=id_col,
            ).drop("query_id")
        if route.strategy == "nsw":
            from acorn_hybrid_vector_search_spark.operators.graph_ann import (
                nsw_read_topk,
            )

            return nsw_read_topk(
                df.sparkSession, nsw_path, [(0, list(query_vec))], k,
                ef=route.ef, predicate=pred_col, id_col=id_col,
            ).drop("query_id")
        if route.strategy in (
            "nsw_pruned", "nsw_pruned_match", "nsw_pruned_range",
            "nsw_pruned_conj",
        ):
            from acorn_hybrid_vector_search_spark.operators.graph_ann import (
                nsw_read_topk,
                pruned_full_beam,
            )

            # full beam ⇒ provably exact under the τ cover bound (for
            # the match/range rungs: the cover counts PASSING members
            # — exactly for match, as a lower bound for range — and
            # the beam covering the largest shard covers any passing
            # subset of it). The beam must COVER the largest shard — a
            # hardcoded cap would silently go approximate once a shard
            # outgrew it (review r9b); the stats sidecar knows max
            # shard size, and a missing sidecar falls through to
            # nsw_read_topk's guard
            ef = pruned_full_beam(df.sparkSession, pruned_path, k)
            return nsw_read_topk(
                df.sparkSession, pruned_path, [(0, list(query_vec))], k,
                ef=ef, prune=True,
                prune_conj=(
                    None if route.strategy == "nsw_pruned"
                    else _conj_of(predicates)
                ),
                id_col=id_col,
            ).drop("query_id")
        if route.strategy == "ivf":
            from acorn_hybrid_vector_search_spark.operators.ann import (
                ivf_search,
            )

            return ivf_search(
                ivf_index, query_vec, k, nprobe=route.nprobe,
                predicate=pred_col,
            )
        if route.strategy == "ivf_exact" and pred_col is None:
            from acorn_hybrid_vector_search_spark.operators.ann import (
                ivf_search_exact,
            )

            return ivf_search_exact(ivf_index, query_vec, k)
        # exact demanded with predicates (or no usable index): the
        # exact filtered scan is the only rung that keeps both promises
        return prefilter_search(
            df, query_vec, predicates or {}, k,
            accessors=acc, id_col=id_col, vec_col=vec_col,
        )

    def route_ann_batch(
        self,
        df: DataFrame,
        queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
        k: int,
        *,
        min_recall: float = 1.0,
        ivf_index: Any = None,
        nsw_path: str | None = None,
        gamma_path: str | None = None,
        pruned_path: str | None = None,
        accessors: Mapping[str, AttributeAccessor] | None = None,
    ) -> "dict[int, AnnRoute]":
        """Rules 1-6 applied to EVERY query of a batch — the routing
        half of ``ann_search_batch``, exposed so callers (and the
        dispatch-invariance pins) can see which arm each query landed
        on. Store facts are consulted per query through the same
        ``_pruned_facts`` evidence as the single-query path; the
        sidecar reads behind it are memoized and O(1)-token
        freshness-checked, so the whole batch pays at most one real
        sidecar load per store."""
        acc = accessors or abo_accessors()
        qids = [int(q) for q, _, _ in queries]
        if len(set(qids)) != len(qids):
            raise ValueError(f"duplicate query ids in batch: {qids}")
        routes: dict[int, AnnRoute] = {}
        for qid, vec, preds in queries:
            prunable, pa, ra, sa, ek = self._pruned_facts(
                df.sparkSession, pruned_path, preds, acc, vec, k
            )
            routes[int(qid)] = self.route_ann(
                k,
                predicates=preds,
                min_recall=min_recall,
                has_ivf_index=ivf_index is not None,
                has_nsw_index=nsw_path is not None,
                has_gamma_store=gamma_path is not None,
                has_pruned_store=prunable,
                pruned_attrs=pa,
                pruned_range_attrs=ra,
                pruned_substr_attrs=sa,
                est_kept_fraction=ek,
            )
        return routes

    def plan_ann_batch(
        self,
        routes: "Mapping[int, AnnRoute]",
        queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
        *,
        dense_min_batch: int | None = DENSE_SERVE_MIN_BATCH,
        dense_dtype: "str | Mapping[str, str]" = "vector",
    ) -> "list[AnnDispatch]":
        """The PURE planning half of ``ann_search_batch`` (r13, VERDICT
        r12 ask #1): given the per-query routes (``route_ann_batch``)
        and the batch, decide WHICH KERNEL answers each group — no
        Spark, no I/O, so both the decision-matrix pytest and a serving
        caller's in-fn pins read the same code path the dispatcher
        executes (``ann_search_batch`` consumes this plan verbatim).

        Grouping: queries sharing an (arm, ef, max_visits, nprobe)
        tuple share one kernel call (r12 hardening — a future rule
        assigning per-query budgets yields one store read per distinct
        budget). Arms: prefilter / nsw / nsw_gamma / pruned (all pruned
        rungs FOLD into one ``prune_conj`` store read) / ivf /
        ivf_exact.

        The DENSE rule (r13, default ON): a walk arm (nsw / nsw_gamma)
        whose query union reaches ``dense_min_batch`` is served by
        ``nsw_dense_topk`` — one scan of the same store by
        ``knn_batch``'s kernel (a gemm screen, then the strict sum over
        its survivors), EXACT (recall 1.0 ≥ any budget, so every
        route's recall contract holds by construction), measured faster
        than the ef=64 walk from |Q|=4 up on every arm and FLAT in |Q|
        (BENCH_LADDER ``serving_crossover``, taken with the earlier
        pure-gemm kernel: 1.92 ms/q dense vs 7.81 walk at |Q|=256).
        The decision is made on the UNION of the arm's queries BEFORE
        budget grouping — the dense kernel ignores
        ef/max_visits, so splitting by budget would both defeat the
        threshold and multiply full-store scans. Below the threshold
        (single-query and tiny batches) the walk keeps its measured
        advantage; ``dense_min_batch=None`` disables the dense rung
        entirely, pinning the walk for callers that want the bounded
        anytime-ACORN cost contract (a dense call always scans the
        full store; a ``max_visits`` walk never does). The pruned arms
        keep their zone-map rungs either way — shard skipping saves
        I/O the dense scan would pay.

        ``dense_dtype`` (r14, VERDICT r13 ask #1): WHICH dense kernel a
        densified walk arm gets — ``"vector"`` (the full-precision
        ``nsw_dense_topk`` scan) or ``"int8"`` (the two-phase
        ``nsw_dense_topk_int8`` over the ``nsw_write_int8`` code
        sidecar: 4× fewer scanned bytes than float32 — the
        bandwidth-bound rung; in its default certified mode the results
        are provably IDENTICAL to the vector kernel, so every recall
        argument above carries over verbatim). A mapping
        ``{"nsw": ..., "nsw_gamma": ...}`` picks per arm — that is what
        ``ann_search_batch`` passes after resolving ``"auto"``
        per-store (this planning half stays pure: no I/O, so the
        sidecar-freshness probe lives in the dispatcher)."""
        if isinstance(dense_dtype, str):
            dense_dtype = {"nsw": dense_dtype, "nsw_gamma": dense_dtype}
        if bad := {
            a: d for a, d in dense_dtype.items()
            if d not in ("vector", "int8")
        }:
            raise ValueError(
                f"dense_dtype must be 'vector' or 'int8' per arm, got {bad}"
                " — 'auto' is resolved by ann_search_batch (the planning"
                " half does no I/O)"
            )

        def arm(route: AnnRoute, preds) -> str:
            s = route.strategy
            if s in ("prefilter", "exact"):
                return "prefilter"
            if s in ("nsw", "nsw_gamma", "ivf"):
                return s
            if s.startswith("nsw_pruned"):
                return "pruned"
            if s == "ivf_exact" and not preds:
                return "ivf_exact"
            # exact demanded with predicates and no routable rung: the
            # single-query path's prefilter fallback
            return "prefilter"

        def group_key(route: AnnRoute, preds) -> tuple:
            # r12 hardening (VERDICT r11 ask #4): group by the FULL budget
            # tuple, not the arm alone — one store read per distinct
            # budget, each group served under ITS OWN budget; batch ≡
            # per-query stays true by construction.
            a = arm(route, preds)
            if a in ("nsw", "nsw_gamma"):
                return (a, route.ef, route.max_visits, None)
            if a == "ivf":
                return (a, None, None, route.nprobe)
            return (a, None, None, None)

        groups: dict[tuple, list] = {}
        for q in queries:
            groups.setdefault(group_key(routes[int(q[0])], q[2]), []).append(q)

        plan: list[AnnDispatch] = []
        if batch := groups.get(("prefilter", None, None, None)):
            plan.append(
                AnnDispatch("prefilter", "prefilter_batch", tuple(batch))
            )
        for arm_name in ("nsw", "nsw_gamma"):
            arm_groups = [
                (key, qs) for key, qs in groups.items() if key[0] == arm_name
            ]
            union = [q for _, qs in arm_groups for q in qs]
            if (
                dense_min_batch is not None
                and union
                and len(union) >= dense_min_batch
            ):
                kern = (
                    "nsw_dense_int8"
                    if dense_dtype.get(arm_name) == "int8"
                    else "nsw_dense"
                )
                plan.append(AnnDispatch(arm_name, kern, tuple(union)))
                continue
            for (_, ef_, max_visits_, _np), batch in arm_groups:
                plan.append(
                    AnnDispatch(
                        arm_name, "nsw_walk", tuple(batch),
                        ef=ef_, max_visits=max_visits_,
                    )
                )
        if batch := groups.get(("pruned", None, None, None)):
            plan.append(AnnDispatch("pruned", "pruned_fold", tuple(batch)))
        for key, batch in groups.items():
            if key[0] == "ivf":
                plan.append(
                    AnnDispatch("ivf", "ivf_batch", tuple(batch), nprobe=key[3])
                )
        if batch := groups.get(("ivf_exact", None, None, None)):
            plan.append(
                AnnDispatch("ivf_exact", "ivf_exact_batch", tuple(batch))
            )
        return plan

    def ann_search_batch(
        self,
        df: DataFrame,
        queries: Sequence[tuple[Any, Sequence[float], Predicates | None]],
        k: int,
        *,
        min_recall: float = 1.0,
        ivf_index: Any = None,
        nsw_path: str | None = None,
        gamma_path: str | None = None,
        pruned_path: str | None = None,
        accessors: Mapping[str, AttributeAccessor] | None = None,
        dense_min_batch: int | None = DENSE_SERVE_MIN_BATCH,
        dense_dtype: str = "auto",
        dense_int8_mode: str = "certified",
        dense_rerank_width: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """BATCHED routed dispatch (r11, VERDICT r10 ask #4): route each
        query of the batch (rules 1-6), plan the kernel per group
        (``plan_ann_batch`` — grouping by the full (arm, ef,
        max_visits, nprobe) tuple, r12 hardening), and answer each
        group from ≤ 1 scan / store read per (arm, budget) — the
        ``routed_batch_topk`` pattern (hybrid.py) extended to every
        rung of the ANN ladder, which is what a serving surface needs
        per micro-batch (``stream_routed_serve``). Per query the
        result is IDENTICAL to ``ann_search`` (pytest-pinned) except
        where the dense rule upgrades a walk arm to EXACT:

        - prefilter/exact (and every predicate-carrying fallback) →
          ONE ``prefilter_search_batch`` corpus scan;
        - nsw / nsw_gamma with |union| ≥ ``dense_min_batch`` (DEFAULT
          ``DENSE_SERVE_MIN_BATCH`` = 4, the measured BENCH_LADDER
          ``serving_crossover`` — r13, VERDICT r12 ask #1) → ONE
          ``nsw_dense_topk`` scan per arm (``knn_batch``'s
          gemm-screened exact kernel): EXACT results (recall
          1.0 ≥ any budget, so every route's recall contract holds by
          construction) and measured faster than the walk from |Q|≈4
          up. Smaller walk-arm groups keep the ``nsw_read_topk`` walk
          (one store read per budget tuple, each query's own §2.3
          predicate as a ``_pass_<qid>`` column; the γ arm walks the
          predicate subgraph under its budget).
          ``dense_min_batch=None`` disables the dense rung — the walk
          at a sub-1.0 budget is approximate, so batch ≡ per-query
          ``ann_search`` stays bit-compatible, and a ``max_visits``
          walk keeps its bounded anytime-ACORN cost contract (dense
          always scans the full store);
        - ALL pruned rungs (plain ball-bound, exact-match, range,
          conjunction) FOLD INTO ONE ``nsw_read_topk(prune=True,
          prune_conj={qid: …})`` store read — each query passes the
          same conjunction ``ann_search`` would, and queries routed to plain
          ``nsw_pruned`` simply stay out of the mapping, pruning on
          ball bounds alone; the shared full beam keeps every group
          member provably exact. The dense rule never touches this
          arm: zone maps skip whole shard directories the dense scan
          would read;
        - ivf (approximate) → ONE ``ivf_search_batch`` scan of the
          probed-list union; ivf_exact (predicate-free) → ONE
          ``ivf_search_exact_batch`` two-phase scan.

        ``dense_dtype`` (r14, VERDICT r13 ask #1) picks WHICH kernel a
        densified walk arm scans with: ``"vector"`` (full-precision
        ``nsw_dense_topk``), ``"int8"`` (the two-phase
        ``nsw_dense_topk_int8`` over the ``nsw_write_int8`` code
        sidecar — 4× fewer scanned bytes than float32, the
        bandwidth-bound serving rung), or ``"auto"`` (the default):
        int8 iff the arm's store has a FRESH sidecar
        (``nsw_int8_fresh`` — building the sidecar is the opt-in
        signal; a stale sidecar degrades to the vector kernel instead
        of refusing). In the default ``dense_int8_mode="certified"``
        the int8 results are provably IDENTICAL to the vector
        kernel's, so every exactness/recall statement above carries
        over verbatim; ``"rerank"`` + ``dense_rerank_width`` is the
        high-dimension scale contract (exact w.r.t. the dequantized
        corpus — see the kernel docstring). The resolved per-arm
        choice is visible in ``plan_ann_batch``'s dispatch (kernel
        ``nsw_dense_int8``), decision-matrix pytest-pinned.

        Returns ``(query_id, <id_col>, dist)`` — the serving answer
        shape, unioned across arms."""
        from acorn_hybrid_vector_search_spark.operators.graph_ann import (
            nsw_int8_fresh,
        )

        if dense_dtype not in ("auto", "vector", "int8"):
            raise ValueError(
                "dense_dtype must be 'auto', 'vector' or 'int8', got "
                f"{dense_dtype!r}"
            )
        acc = accessors or abo_accessors()
        spark = df.sparkSession
        routes = self.route_ann_batch(
            df, queries, k,
            min_recall=min_recall, ivf_index=ivf_index, nsw_path=nsw_path,
            gamma_path=gamma_path, pruned_path=pruned_path, accessors=acc,
        )
        if dense_dtype == "auto":
            resolved = {
                arm_name: (
                    "int8"
                    if p is not None and nsw_int8_fresh(spark, p)
                    else "vector"
                )
                for arm_name, p in (
                    ("nsw", nsw_path), ("nsw_gamma", gamma_path),
                )
            }
        else:
            resolved = {"nsw": dense_dtype, "nsw_gamma": dense_dtype}
        plan = self.plan_ann_batch(
            routes, queries, dense_min_batch=dense_min_batch,
            dense_dtype=resolved,
        )

        parts: list[DataFrame] = []
        for d in plan:
            if d.kernel == "prefilter_batch":
                parts.append(
                    prefilter_search_batch(
                        df, list(d.queries), k, accessors=acc,
                        vec_col=vec_col, id_col=id_col,
                        query_id_col=query_id_col,
                    ).select(query_id_col, id_col, "dist")
                )
            elif d.kernel in ("nsw_dense", "nsw_dense_int8"):
                from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E501
                    nsw_dense_topk,
                    nsw_dense_topk_int8,
                )

                # r13/r14 (VERDICT r12 ask #3, r13 ask #4): a single-
                # attribute supported-op predicate on a FLAT passthrough
                # accessor takes the kernels' template fast path — the
                # mask evaluates executor-side from the raw payload
                # column, flat in the number of DISTINCT templates
                # (``dense_match_template`` holds the full eligibility
                # contract; everything else keeps the Catalyst path,
                # identical results pytest-pinned).
                tmpl: dict[int, tuple] = {}
                preds = {}
                for qid, _, p in d.queries:
                    if not p:
                        continue
                    t = dense_match_template(p, acc)
                    if t is not None:
                        tmpl[int(qid)] = t
                    else:
                        preds[int(qid)] = build_predicate(p, acc)
                dense_kw: dict[str, Any] = {}
                kernel_fn = nsw_dense_topk
                if d.kernel == "nsw_dense_int8":
                    kernel_fn = nsw_dense_topk_int8
                    dense_kw["mode"] = dense_int8_mode
                    if dense_rerank_width is not None:
                        dense_kw["rerank_width"] = dense_rerank_width
                parts.append(
                    kernel_fn(
                        spark,
                        nsw_path if d.arm == "nsw" else gamma_path,
                        [(int(qid), list(v)) for qid, v, _ in d.queries],
                        k, predicates=preds or None,
                        match=tmpl or None, id_col=id_col, **dense_kw,
                    ).select(
                        F.col("query_id").alias(query_id_col),
                        id_col, "dist",
                    )
                )
            elif d.kernel == "nsw_walk":
                from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E501
                    nsw_read_topk,
                )

                preds = {
                    int(qid): build_predicate(p, acc)
                    for qid, _, p in d.queries
                    if p
                }
                strat = "traverse_all" if d.arm == "nsw" else "subgraph"
                parts.append(
                    nsw_read_topk(
                        spark,
                        nsw_path if d.arm == "nsw" else gamma_path,
                        [(int(qid), list(v)) for qid, v, _ in d.queries], k,
                        ef=d.ef,
                        max_visits=d.max_visits,
                        predicates=preds or None,
                        strategy=strat if preds else "traverse_all",
                        id_col=id_col,
                    ).select(
                        F.col("query_id").alias(query_id_col), id_col, "dist"
                    )
                )
            elif d.kernel == "pruned_fold":
                from acorn_hybrid_vector_search_spark.operators.graph_ann import (  # noqa: E501
                    nsw_read_topk,
                    pruned_full_beam,
                )

                conj_map = {
                    int(qid): _conj_of(preds_)
                    for qid, _, preds_ in d.queries
                    if routes[int(qid)].strategy != "nsw_pruned"
                }
                parts.append(
                    nsw_read_topk(
                        spark, pruned_path,
                        [(int(qid), list(v)) for qid, v, _ in d.queries], k,
                        ef=pruned_full_beam(spark, pruned_path, k),
                        prune=True,
                        prune_conj=conj_map or None,
                        id_col=id_col,
                    ).select(
                        F.col("query_id").alias(query_id_col), id_col, "dist"
                    )
                )
            elif d.kernel == "ivf_batch":
                from acorn_hybrid_vector_search_spark.operators.ann import (
                    ivf_search_batch,
                )

                parts.append(
                    ivf_search_batch(
                        ivf_index,
                        [(int(qid), list(v)) for qid, v, _ in d.queries], k,
                        nprobe=d.nprobe,
                        predicates={
                            int(qid): p for qid, _, p in d.queries if p
                        },
                        accessors=acc,
                        query_id_col=query_id_col,
                    ).select(query_id_col, id_col, "dist")
                )
            else:  # ivf_exact_batch
                from acorn_hybrid_vector_search_spark.operators.ann import (
                    ivf_search_exact_batch,
                )

                parts.append(
                    ivf_search_exact_batch(
                        ivf_index,
                        [(int(qid), list(v)) for qid, v, _ in d.queries], k,
                        query_id_col=query_id_col,
                    ).select(query_id_col, id_col, "dist")
                )
        if not parts:
            raise ValueError("empty query batch")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


# ---------------------------------------------------------------------------
# Dedup-strategy routing (round-5, r4 verdict ask #7): the same
# cost-model-picks-the-plan pattern as route()/route_ann(), applied to
# the dedup family's strategy surface. Decision matrix in STRATEGY.md
# §"Dedup routing"; pinned by tests/test_dedup.py::test_route_dedup_matrix.


@dataclass
class DedupRoute:
    strategy: str  # "exact" | "substring" | "winnow" | "simhash" | "minhash" | "embedding"
    params: dict[str, Any]
    rationale: str


def minhash_banding(threshold: float, num_hashes: int = 16) -> tuple[int, int]:
    """(bands, rows_per_band) whose LSH S-curve midpoint ``(1/b)^(1/r)``
    sits closest to the caller's Jaccard ``threshold`` (the standard
    MMDS ch.3 tuning rule), among the divisor pairs of ``num_hashes``.
    More bands → catches lower-similarity pairs (higher recall, more
    candidate verification work); fewer bands → precision-biased."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    best: tuple[float, int, int] | None = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        r = num_hashes // bands
        mid = (1.0 / bands) ** (1.0 / r)
        cand = (abs(mid - threshold), bands, r)
        if best is None or cand < best:
            best = cand
    assert best is not None
    return best[1], best[2]


def route_dedup(
    n_docs: int,
    avg_tokens: float,
    *,
    threshold: float = 1.0,
    granularity: str = "document",
    semantic: bool = False,
    has_embeddings: bool = False,
    num_hashes: int = 16,
    long_doc_tokens: float = 200.0,
    high_threshold: float = 0.9,
) -> DedupRoute:
    """Pick the dedup strategy from corpus size × doc length × near-dup
    tolerance × modality. The ladder, cheap to expensive per row:

        exact (one shuffle on a high-entropy md5 key)
        → simhash (one 64-bit fingerprint, hamming-banded self-join)
        → minhash LSH (num_hashes-wide signature, banded self-join)
        → embedding-cosine LSH (needs an embedding column)

    Rules (each grounded in the operators' measured cost shapes and the
    standard sketch-accuracy trade-offs):

    1. ``granularity='substring'`` → remove_duplicate_ngrams: the only
       substring-granular operator (boilerplate spans inside otherwise
       distinct docs — document-level strategies can't see them).
       ``granularity='passage'`` → winnow_near_dups: provenance of long
       copied passages (shared runs ≥ window+k−1 tokens guaranteed
       detected) rather than span removal.
    2. ``threshold >= 1`` → exact: byte-identical dedup needs no
       sketch; the md5 groupBy is the cheapest possible plan and has
       no false positives/negatives.
    3. ``semantic`` → embedding (requires ``has_embeddings``):
       paraphrases share no shingles, so token-sketch strategies
       (minhash/simhash) structurally CANNOT find them; cosine LSH over
       an embedding column is the only rung with semantic recall.
    4. near-exact tolerance (``threshold ≥ high_threshold``) on LONG
       docs (``avg_tokens ≥ long_doc_tokens``) → simhash: one 64-bit
       fingerprint per doc (vs num_hashes×64 for minhash) and hamming
       banding — the cheapest near-dup rung. Gated on length because a
       short doc yields few weighted features, so single-bit noise
       dominates the fingerprint (precision collapses); minhash's
       multi-row signature degrades gracefully instead.
    5. otherwise → minhash with ``minhash_banding(threshold)``: the
       general-purpose rung; the banding is tuned so the LSH S-curve
       midpoint matches the requested threshold, and candidates are
       verified with exact shingle Jaccard (verify_threshold).

    ``n_docs`` scales parallelism hints only — every rung is a banded
    (never all-pairs) plan, so corpus size does not change the WINNING
    strategy, only whether verification should be kept (it should; it
    is per-candidate-pair, not per-pair-of-docs).

    6. Every pair-emitting rung (minhash/simhash/winnow) carries a
       ``bucket_cap`` = max(64, ⌈4·√n_docs⌉) (VERDICT r6 ask #1): a
       band bucket under uniform hashing holds O(n/num_buckets) ≈
       constant members, so a bucket at 4·√n is already pathological —
       a boilerplate template that survived the exact rung — and its
       UNCAPPED pair output alone is quadratic by construction on any
       engine. The cap bounds per-bucket emission to cap·(cap−1)/2
       (total emission ≤ ~8·n·bands pairs at the cap) with a
       deterministic, engine-portable member sample; what was capped
       is surfaced by the operators' ``cap_stats`` disclosure (the
       no-silent-caps rule). At 10⁶ docs the cap is 4000: one 20-percent
       cluster's emission drops 2·10¹⁰ → 8·10⁶ pairs.
    """
    if granularity == "substring":
        return DedupRoute(
            "substring",
            {"k": 8, "min_count": 2},
            "substring granularity: only remove_duplicate_ngrams sees "
            "duplicated spans inside otherwise-distinct documents",
        )
    import math

    # rule 6: every pair-emitting rung bounds per-bucket emission
    bucket_cap = max(64, math.ceil(4 * math.sqrt(max(n_docs, 1))))
    if granularity == "passage":
        # which DOCUMENTS share a long copied passage (provenance),
        # vs substring's remove-the-span: winnowing fingerprints
        # guarantee detection of any shared run >= window+k-1 tokens
        # (SIGMOD'03 theorem) at a bounded per-doc signature
        return DedupRoute(
            "winnow",
            {"k": 4, "window": 4, "min_shared": 2, "bucket_cap": bucket_cap},
            "passage granularity: winnowing fingerprint overlap detects "
            "documents sharing long copied passages that whole-document "
            "Jaccard dilutes; shared runs >= 7 tokens guaranteed",
        )
    if granularity != "document":
        raise ValueError(
            f"granularity must be document|substring|passage, got {granularity!r}"
        )
    if threshold >= 1.0:
        return DedupRoute(
            "exact",
            {},
            "threshold 1.0: byte-identical dedup — md5 groupBy, no sketch, "
            "no false positives",
        )
    if semantic:
        if not has_embeddings:
            raise ValueError(
                "semantic dedup requires an embedding column: token-sketch "
                "strategies cannot see paraphrases"
            )
        return DedupRoute(
            "embedding",
            {"threshold": threshold, "n_planes": 8, "bucket_cap": bucket_cap},
            "semantic tolerance: paraphrases share no shingles — cosine LSH "
            "over embeddings is the only rung with semantic recall; rule 6 "
            "caps the LSH bucket (a template cluster's near-identical "
            "vectors all land in one bucket)",
        )
    if threshold >= high_threshold and avg_tokens >= long_doc_tokens:
        # hamming budget ≈ bits scaled by the dissimilarity tolerance:
        # at cosine-ish similarity s over random hyperplanes the expected
        # differing-bit fraction is acos-linear; this formula's operating
        # points are 2/64 at 0.97 and 6/64 at 0.90 (pinned by
        # test_route_dedup_matrix).
        max_hamming = max(1, round((1.0 - threshold) * 64))
        return DedupRoute(
            "simhash",
            {"max_hamming": max_hamming, "bucket_cap": bucket_cap},
            "near-exact threshold on long docs: one 64-bit fingerprint/doc "
            "(8x cheaper than a minhash signature), noise-safe because long "
            "docs have many weighted features",
        )
    bands, rows_per_band = minhash_banding(threshold, num_hashes)
    return DedupRoute(
        "minhash",
        {
            "num_hashes": num_hashes,
            "bands": bands,
            "verify_threshold": threshold,
            "bucket_cap": bucket_cap,
        },
        f"general near-dup rung: LSH banding {bands}x{rows_per_band} puts "
        f"the S-curve midpoint at {(1.0 / bands) ** (1.0 / rows_per_band):.2f} "
        f"~= requested {threshold}; candidates exact-verified",
    )


def dedup_search(
    df: DataFrame,
    route: DedupRoute,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Apply a DedupRoute: dispatch to the chosen operator with the
    routed parameters (the route() → search() pattern of the hybrid
    family). Returns pairs for the near-dup rungs, the survivor
    relation for 'exact', the cleaned corpus for 'substring'."""
    from acorn_hybrid_vector_search_spark.operators import dedup as D
    from acorn_hybrid_vector_search_spark.operators.substring_dedup import (
        remove_duplicate_ngrams,
    )

    if route.strategy == "substring":
        return remove_duplicate_ngrams(
            df, text_col=text_col, id_col=id_col, **route.params
        )
    if route.strategy == "exact":
        return D.exact_dedup(df, text_col=text_col, id_col=id_col)
    if route.strategy == "winnow":
        return D.winnow_near_dups(
            df, text_col=text_col, id_col=id_col, **route.params
        )
    if route.strategy == "simhash":
        return D.simhash_near_dups(
            df, text_col=text_col, id_col=id_col, **route.params
        )
    if route.strategy == "minhash":
        return D.minhash_near_dups(
            df, text_col=text_col, id_col=id_col, **route.params
        )
    if route.strategy == "embedding":
        # rule 6 end-to-end: generate the LSH buckets the cap applies
        # to (an UNbucketed cosine self-join is the quadratic plan the
        # router exists to never build), then cap per bucket
        from acorn_hybrid_vector_search_spark.operators.similarity import (
            with_lsh_bucket,
        )

        head = df.select(F.size(embedding_col)).head()
        if head is None:  # empty corpus — no pairs, and no dim to bucket by
            return df.sparkSession.createDataFrame(
                [], schema="id_a long, id_b long, cosine double"
            )
        dim = int(head[0])
        bucketed = with_lsh_bucket(
            df, dim, n_planes=route.params.get("n_planes", 8),
            vec_col=embedding_col,
        )
        return D.embedding_near_dups(
            bucketed,
            route.params["threshold"],
            id_col=id_col,
            vec_col=embedding_col,
            bucket_col="lsh_bucket",
            bucket_cap=route.params.get("bucket_cap"),
        )
    raise ValueError(f"unknown dedup strategy {route.strategy!r}")


# ---------------------------------------------------------------------------
# Decontamination routing (r6): exact-broadcast vs bloom two-phase.


@dataclass(frozen=True)
class DecontamRoute:
    strategy: str  # "broadcast" | "bloom" | "bloom_sharded"
    params: dict[str, Any]
    rationale: str


def route_decontam(
    n_bench_grams: int,
    *,
    avg_gram_bytes: float = 24.0,
    broadcast_budget_bytes: int = 64 * 1024 * 1024,
    target_fp: float = 0.01,
) -> DecontamRoute:
    """Pick the decontamination plan from the FILTER side's size.

    - The gram set fits the broadcast budget (the session's
      autoBroadcastJoinThreshold, 64 MB here) → ``broadcast``:
      map-side semi-join against the exact set — no shuffle of corpus
      grams, no false-positive screen to verify, strictly the cheapest
      correct plan (operators/decontam.py::contamination_stats).
    - Bigger → ``bloom``: a bitset sized for ``target_fp`` at
      ~9.6 bits/item (m = n·ln(1/fp)/ln2², k = m/n·ln2 ≈ 7 at 1%)
      screens the corpus stream map-side, and only screened survivors
      shuffle into the exact verify join
      (contamination_stats_bloom), bounded by the single-row assembly
      at ~2^30 bits.
    - Bigger still → ``bloom_sharded``: the bitset splits into
      independent per-hash-shard filters, rows of a (shard, words)
      relation that broadcasts whole — a 1-billion-gram blocklist
      (~24 GB exact, unbroadcastable) becomes 16 × 128 MB shard rows
      probed via a map-side broadcast hash join on the shard key, fp
      back at target (contamination_stats_bloom_sharded).

    The OUTPUT of both routes is identical (bloom false positives die
    in the verify join), so routing never changes results — the same
    invariance contract as route_dedup/route (pinned in test_decontam).
    """
    import math

    if n_bench_grams < 0:
        raise ValueError("n_bench_grams must be >= 0")
    exact_bytes = n_bench_grams * avg_gram_bytes
    if exact_bytes <= broadcast_budget_bytes:
        return DecontamRoute(
            "broadcast",
            {},
            f"exact gram set ~{exact_bytes / 1e6:.0f} MB fits the "
            f"{broadcast_budget_bytes // (1024 * 1024)} MB broadcast budget: "
            "map-side exact semi-join, no screen to verify",
        )
    m_bits = int(n_bench_grams * math.log(1 / target_fp) / (math.log(2) ** 2))
    m_bits = max(1 << 16, 1 << (m_bits - 1).bit_length())  # pow2, floor 64Kb
    # k from the TARGET fp (ln(1/fp)/ln2 ≈ 7 at 1%), not from the
    # pow2-rounded m — rounding m up only lowers the real fp; a larger
    # k would just add probe cost per gram
    k = max(1, round(math.log(1 / target_fp) / math.log(2)))
    # Single-row ceiling: bloom_build assembles its dense word array in
    # ONE aggregate row / one broadcast scalar — ~2^30 bits (128 MB,
    # 2^24 longs) is the bound. Inside it → the 1-row bitset.
    row_ceiling = 1 << 30
    if m_bits <= row_ceiling:
        return DecontamRoute(
            "bloom",
            {"m_bits": m_bits, "k": k},
            f"exact set ~{exact_bytes / 1e9:.1f} GB exceeds the broadcast "
            f"budget: {m_bits / 8 / 1e6:.0f} MB bitset (fp~{target_fp:.0%}) "
            "screens map-side; exact verify join keeps the output identical",
        )
    # Past the single-row bound → prefix-SHARDED bitset
    # (contamination_stats_bloom_sharded): each shard is an independent
    # 2^30-bit filter in its own row of a (shard, words) relation that
    # still broadcasts whole (Spark's broadcast limit is 8 GB vs 2 GB
    # per row), so the screen stays a map-side broadcast hash join on
    # the shard key and the TARGET fp is restored. 64 shards (8 GB
    # total) is the broadcast-limit ceiling ≈ 7B grams at 1%; past even
    # that, k re-optimizes for the effective bits/item and the degraded
    # fp is disclosed — output stays exact either way (false positives
    # die in the verify join; the screen just filters less).
    n_shards = -(-m_bits // row_ceiling)  # ceil
    n_shards = 1 << (n_shards - 1).bit_length()  # pow2
    capped = n_shards > 64
    n_shards = min(n_shards, 64)
    if capped:
        k = max(
            1, round(n_shards * row_ceiling / n_bench_grams * math.log(2))
        )
    real_fp = (1.0 - math.exp(-k * n_bench_grams / (n_shards * row_ceiling))) ** k
    note = (
        f" (CAPPED at the 64-shard / 8 GB broadcast ceiling — effective "
        f"fp~{real_fp:.0%}, screen selectivity degraded but output still "
        f"exact)"
        if capped
        else f" (fp~{target_fp:.0%} restored)"
    )
    return DecontamRoute(
        "bloom_sharded",
        {"n_shards": n_shards, "m_bits": row_ceiling, "k": k},
        f"exact set ~{exact_bytes / 1e9:.1f} GB exceeds the broadcast "
        f"budget AND the bitset exceeds the 2^30-bit single-row bound: "
        f"{n_shards} × 128 MB prefix-sharded bitsets{note} screen via a "
        "broadcast hash join on the shard key; exact verify join keeps "
        "the output identical",
    )
