"""Benchmark decontamination: drop training documents that overlap an
evaluation/benchmark set by exact word n-grams.

The standard LLM-training-data hygiene step (GPT-3 §C / The Pile style
13-gram filtering, scaled down to the corpus at hand): shingle both
sides into word n-grams, find training docs sharing at least
``min_overlap`` distinct n-grams with ANY benchmark text, and remove
them. There is no reference-engine analog (the reference corpus is
images); this is a charter extension over the ``documents`` table.

Scale shape (100 TB corpus, KB–MB benchmark side):

- The benchmark gram set is tiny relative to the corpus (eval suites are
  thousands of documents, not billions) — build it once, ``distinct()``,
  and BROADCAST it. The contamination probe is then a map-side semi-join
  over the exploded corpus grams: no shuffle of corpus data by gram.
- The only corpus-wide shuffle is the per-doc hit count groupBy(doc_id),
  which partial-aggregates map-side; its post-shuffle volume is bounded
  by the number of *contaminated* docs, not corpus size.
- ``decontaminate`` finishes with a left-anti join of the corpus against
  the flagged-id set — the flagged set is usually small enough that AQE
  broadcasts it.

Shingles are ``array_distinct`` within a document (functions.text.
shingles), so hit counts are distinct-gram counts by construction — no
double-counting a repeated phrase inside one document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.functions.text import shingles

__all__ = [
    "benchmark_ngrams",
    "bloom_build",
    "bloom_build_sharded",
    "bloom_shard",
    "bloom_might_contain",
    "contamination_stats",
    "contamination_stats_bloom",
    "contamination_stats_bloom_sharded",
    "contaminated_ids",
    "decontaminate",
]


def benchmark_ngrams(
    benchmark: DataFrame, *, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """The distinct word-``n``-gram set of the benchmark side
    (one ``gram`` STRING column). Small by assumption — cache/broadcast
    at the call sites."""
    return (
        benchmark.select(F.explode(shingles(text_col, n)).alias("gram")).distinct()
    )


# ---------------------------------------------------------------------------
# Bloom-screened variant: when the FILTER side outgrows a broadcast
# (billions of blocklist grams at 100 TB — the exact-set broadcast above
# assumes a KB-MB benchmark), the standard plan is a two-phase
# semi-join reduction: a Bloom bitset screens the corpus gram stream
# MAP-SIDE (no shuffle; false positives only, never false negatives),
# and only the screened survivors — contamination candidates, a tiny
# fraction of the corpus — pay the exact shuffled verify join. The
# final output is EXACT (the verify join removes every false positive),
# which is why the DuckDB oracle replays it with plain set semantics.
#
# The filter itself is pure Catalyst expressions (no UDF, no JVM-side
# helper object): k xxhash64 probes into a bit-packed array<bigint>
# built with a bit_or partial aggregation — the build is distributed
# (one shuffle over m/64 word indexes, constant-size output), the
# probe rides whole-stage codegen.


# r14 (guide §1.2 step 2 "per-task work", measured): the original probe
# built a 64-entry literal mask ARRAY per row per hash (CreateArray in
# codegen — 0.67 s of a 1.0 s screen pass at sf0.1) and paid k
# concat+xxhash64 evaluations per value. Two equivalent-but-cheaper
# kernels, applied consistently to build AND probe so the filters stay
# self-consistent:
# - the single-bit mask is `shiftleft(1L, p % 64)` — the SQL expression
#   takes a column shift even though the python `F.shiftleft` wrapper
#   insists on a literal (hence call_function); bit 63 wraps to the
#   two's-complement minimum long exactly as the old array entry did;
# - the k probe positions use Kirsch–Mitzenmacher double hashing:
#   p_i = (h1 + i·h2) mod m from TWO xxhash64 evaluations instead of k
#   independent concat+hash chains. Long overflow wraps deterministically
#   and pmod folds negatives into [0, m). The bloom CONTENT changes
#   (different bit positions — it is still a standard Bloom filter with
#   the standard fp bound, re-pinned by the fp-rate test); the operator
#   OUTPUTS are unchanged because every variant exact-verifies survivors.


def _bit_mask(pos: Column) -> Column:
    """shiftleft(1L, pos % 64) — the single-bit mask for a probe position."""
    return F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        F.pmod(pos, F.lit(64)).cast("int"),
    )


def _probe_positions(value: Column, *, m_bits: int, k: int) -> list[Column]:
    """The k Bloom probe positions of ``value`` (double hashing; build
    and probe MUST both come through here so bit layouts agree).

    LAYOUT VERSION 2 (the h2 = 1 + hash mod (m-1) form below; version 1
    used h2 = hash mod m). Filters are built and probed in one session
    and never persisted, so a layout change is safe today. Any future
    persisted bloom sidecar MUST record this version (with the
    ``bloomA:``/``bloomB:`` salts, m_bits and k) and refuse to probe a
    filter written under another one: probing an old-layout filter with
    new positions yields silent false negatives, missed contamination
    that the verify join cannot recover."""
    # both hashes folded into [0, m) BEFORE the i·h2 step: i·h2 then
    # stays ≤ k·m (no ANSI long overflow) and the combination is the
    # standard double-hash family over Z_m. h2 uses the standard KM fix
    # h2 = 1 + (hash mod (m-1)) ∈ [1, m-1] (r15, ADVICE r14): h2 == 0
    # would collapse all k probes onto h1, silently degrading that key
    # to an effective k=1 filter (outputs stay exact either way — every
    # variant verify-joins survivors — but the fp bound the comment
    # above cites assumes independent probes).
    h1 = F.pmod(F.xxhash64(F.concat(F.lit("bloomA:"), value)), F.lit(m_bits))
    h2 = F.lit(1) + F.pmod(
        F.xxhash64(F.concat(F.lit("bloomB:"), value)), F.lit(m_bits - 1)
    )
    return [F.pmod(h1 + F.lit(i).cast("long") * h2, F.lit(m_bits)) for i in range(k)]


def _check_m_bits(m_bits: int) -> None:
    """m_bits MUST be a positive multiple of 64: the dense word grid has
    m_bits//64 entries, so a probe bit past 64*(m_bits//64) would land
    outside the array — F.get returns NULL, the screen drops the gram,
    and a genuinely contaminated doc reports clean (a silent FALSE
    NEGATIVE, violating the bloom contract). Reject instead."""
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")


def _stats_tail(
    docs: DataFrame, hits: DataFrame, *, n: int, min_overlap: int,
    id_col: str, text_col: str,
) -> DataFrame:
    """The shared output projection of every contamination_stats variant
    — ONE copy so all three paths stay bit-identical to the shared
    DuckDB oracle (_decontam_sql): (id, n_grams, n_hits, contaminated,
    overlap_frac)."""
    base = docs.select(id_col, F.size(shingles(text_col, n)).alias("n_grams"))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return base.join(hits, id_col, "left").select(
        id_col,
        "n_grams",
        n_hits.cast("long").alias("n_hits"),
        (n_hits >= min_overlap).alias("contaminated"),
        F.round(n_hits / F.greatest(F.col("n_grams"), F.lit(1)), 6).alias(
            "overlap_frac"
        ),
    )


def bloom_build(
    items: DataFrame, col: str, *, m_bits: int = 1 << 18, k: int = 5
) -> DataFrame:
    """ONE-row (words: array<bigint>) Bloom bitset over ``items[col]``.

    m_bits/k sizing: fp ≈ (1 − e^(−k·n/m))^k; the 2^18-bit default holds
    ~18k distinct grams at ≲1% fp. The dense word array (m/64 entries —
    a build-time CONSTANT, e.g. 4096 longs = 32 KB) is assembled with a
    bounded collect_list and travels to probes as a broadcast scalar.
    """
    _check_m_bits(m_bits)
    m_words = m_bits // 64
    probes = F.array(*_probe_positions(F.col(col), m_bits=m_bits, k=k))
    pos = items.select(F.explode(probes).alias("p"))
    words = (
        pos.select(
            F.floor(F.col("p") / 64).alias("w"),
            _bit_mask(F.col("p")).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    # Densification note (r14): assembling the dense array inside the
    # final aggregation via map_from_entries + a sequence transform was
    # tried and MEASURED SLOWER — Catalyst map lookup is a linear scan,
    # so the transform is O(m_words × entries) ≈ 16M comparisons per
    # build. The range spine + broadcast join below densifies map-side
    # (the sparse words relation is ≤ m_words rows by construction —
    # pinned broadcast, no exchange of the spine).
    spark = items.sparkSession
    dense = (
        spark.range(m_words)
        .join(F.broadcast(words), F.col("id") == F.col("w"), "left")
        .select("id", F.coalesce("word", F.lit(0).cast("long")).alias("word"))
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("id", "word"))), lambda s: s["word"]
        ).alias("words")
    )


def bloom_might_contain(
    words: Column, value: Column, *, m_bits: int = 1 << 18, k: int = 5
) -> Column:
    """True iff every one of the k probe bits is set — possibly-member
    (false positives at the designed rate, false negatives never).
    Must use the same (m_bits, k) as ``bloom_build``.

    Validates ``m_bits`` the same way the builders do (ADVICE r6): a
    caller probing with a non-multiple-of-64 m_bits would F.get past the
    last word → NULL → silent false negative, the exact contract
    violation _check_m_bits exists to reject."""
    _check_m_bits(m_bits)
    cond = F.lit(True)
    for p in _probe_positions(value, m_bits=m_bits, k=k):
        w = F.get(words, F.floor(p / 64).cast("int"))
        cond = cond & (w.bitwiseAND(_bit_mask(p)) != 0)
    return cond


def contamination_stats_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    m_bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """``contamination_stats`` semantics (identical output, same oracle)
    through the Bloom-screen + exact-verify plan: the corpus gram
    stream is filtered map-side by the broadcast bitset, and ONLY the
    survivors shuffle into the verify join (deliberately non-broadcast:
    this variant models the filter side too big to broadcast — AQE may
    still choose broadcast at toy scale, and OptimizeSkewedJoin splits
    at real scale)."""
    bg = benchmark_ngrams(benchmark, n=n, text_col=bench_text_col or text_col)
    bloom = bloom_build(bg, "gram", m_bits=m_bits, k=k)
    grams = docs.select(id_col, F.explode(shingles(text_col, n)).alias("gram"))
    screened = (
        grams.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain(F.col("words"), F.col("gram"), m_bits=m_bits, k=k))
        .drop("words")
    )
    hits = (
        screened.join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return _stats_tail(
        docs, hits, n=n, min_overlap=min_overlap, id_col=id_col, text_col=text_col
    )


def _hit_counts(
    docs: DataFrame,
    bench_grams: DataFrame,
    *,
    n: int,
    id_col: str,
    text_col: str,
    broadcast_bench: bool,
) -> DataFrame:
    bg = F.broadcast(bench_grams) if broadcast_bench else bench_grams
    return (
        docs.select(id_col, F.explode(shingles(text_col, n)).alias("gram"))
        .join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document contamination evidence against the benchmark set.

    Returns one row per input doc: ``(id_col, n_grams, n_hits,
    contaminated, overlap_frac)`` where ``n_hits`` is the number of
    DISTINCT doc n-grams that appear anywhere in the benchmark set and
    ``contaminated = n_hits >= min_overlap``. Use this to audit/threshold
    before committing to ``decontaminate``'s drop decision.
    """
    bg = benchmark_ngrams(benchmark, n=n, text_col=bench_text_col or text_col)
    hits = _hit_counts(
        docs, bg, n=n, id_col=id_col, text_col=text_col, broadcast_bench=broadcast_bench
    )
    return _stats_tail(
        docs, hits, n=n, min_overlap=min_overlap, id_col=id_col, text_col=text_col
    )


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Ids of docs sharing ≥ ``min_overlap`` distinct n-grams with the
    benchmark set — the drop list, without the full stats projection."""
    bg = benchmark_ngrams(benchmark, n=n, text_col=bench_text_col or text_col)
    hits = _hit_counts(
        docs, bg, n=n, id_col=id_col, text_col=text_col, broadcast_bench=broadcast_bench
    )
    return hits.filter(F.col("n_hits") >= min_overlap).select(id_col)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """The corpus minus contaminated documents (left-anti join on the
    flagged-id set). Schema-preserving: returns ``docs``' columns."""
    flagged = contaminated_ids(
        docs,
        benchmark,
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
        bench_text_col=bench_text_col,
        broadcast_bench=broadcast_bench,
    )
    return docs.join(flagged, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Prefix-sharded Bloom: past the single-row assembly/broadcast bound.
#
# bloom_build assembles its dense word array in ONE aggregate row, so
# the bitset is bounded by what a single Spark row (and a single
# broadcast scalar) can carry — ~2^30 bits in practice. Sharding the
# bitset by a gram-hash prefix removes that bound: each shard is an
# INDEPENDENT Bloom filter over its hash-partitioned subset (rows of a
# small (shard, words) relation, each row bounded by m_bits/8 bytes),
# and the whole relation still broadcasts (Spark's broadcast limit is
# 8 GB vs 2 GB per row), so the probe stays a MAP-SIDE broadcast hash
# join on the shard key — no shuffle of corpus grams. Capacity scales
# n_shards×: 64 shards × 2^30 bits holds ~7B grams at 1% fp.


def bloom_shard(value: Column, n_shards: int) -> Column:
    """The shard of a value: an xxhash64 prefix, independent of the k
    probe hashes (distinct salt). Build and probe MUST agree."""
    return F.pmod(
        F.xxhash64(F.concat(F.lit("bloomshard:"), value)), F.lit(n_shards)
    ).cast("int")


def bloom_build_sharded(
    items: DataFrame, col: str, *, n_shards: int = 16, m_bits: int = 1 << 18, k: int = 5
) -> DataFrame:
    """(shard, words array<bigint>) — one independent ``m_bits``-bit
    Bloom filter per hash shard (``m_bits`` is PER SHARD). Every shard
    row is emitted even if empty, so the probe join never silently
    drops a shard. Assembly is a per-shard bounded collect_list
    (m_bits/64 longs per row, never one giant row)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    _check_m_bits(m_bits)
    m_words = m_bits // 64
    probes = F.array(*_probe_positions(F.col(col), m_bits=m_bits, k=k))
    pos = items.select(
        bloom_shard(F.col(col), n_shards).alias("shard"), F.explode(probes).alias("p")
    )
    words = (
        pos.select(
            "shard",
            F.floor(F.col("p") / 64).alias("w"),
            _bit_mask(F.col("p")).alias("bit"),
        )
        .groupBy("shard", "w")
        .agg(F.bit_or("bit").alias("word"))
    )
    spark = items.sparkSession
    # dense (shard, w) grid from ONE range — div/mod instead of a
    # range×range cross join (the plan guard bans nested-loop joins and
    # a single Range is cheaper anyway). The sparse side is ≤
    # n_shards×m_words rows by construction — pinned broadcast so the
    # grid densifies map-side (r14; a map_from_entries + sequence
    # transform alternative measured slower, see bloom_build).
    dense = (
        spark.range(n_shards * m_words)
        .select(
            F.expr(f"CAST(id DIV {m_words} AS INT)").alias("shard"),
            F.expr(f"id % {m_words}").alias("w"),
        )
        .join(F.broadcast(words), ["shard", "w"], "left")
        .select("shard", "w", F.coalesce("word", F.lit(0).cast("long")).alias("word"))
    )
    return dense.groupBy("shard").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "word"))), lambda s: s["word"]
        ).alias("words")
    )


def contamination_stats_bloom_sharded(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n_shards: int = 16,
    m_bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """``contamination_stats`` semantics (identical output, same oracle)
    through the SHARDED screen: each corpus gram computes its shard,
    broadcast-hash-joins its shard's bitset row (map-side — the
    (shard, words) relation broadcasts whole), probes the per-shard
    filter, and only survivors pay the exact verify join. False
    positives die in the verify, so output is EXACT at any fp."""
    bg = benchmark_ngrams(benchmark, n=n, text_col=bench_text_col or text_col)
    blooms = bloom_build_sharded(bg, "gram", n_shards=n_shards, m_bits=m_bits, k=k)
    grams = docs.select(
        id_col,
        F.explode(shingles(text_col, n)).alias("gram"),
    ).withColumn("shard", bloom_shard(F.col("gram"), n_shards))
    screened = (
        grams.join(F.broadcast(blooms), "shard")
        .where(bloom_might_contain(F.col("words"), F.col("gram"), m_bits=m_bits, k=k))
        .drop("words", "shard")
    )
    hits = (
        screened.join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return _stats_tail(
        docs, hits, n=n, min_overlap=min_overlap, id_col=id_col, text_col=text_col
    )
