"""Deduplication operator family for large-scale corpus pipelines.

Generalizes the reference's content-hash dedup (match_hash + seen-set,
``scripts/etl_snapshot_topn.py:257-261`` / ``src/clashdb/hash_utils.py``)
to the operators an LLM-data pipeline needs:

- **exact**        hash-groupBy on a content fingerprint
- **jaccard**      word-shingle Jaccard via an inverted-index self-join
                   (the exact ground truth; O(postings²) within a shingle)
- **MinHash+LSH**  k seeded min-hashes → b bands → bucket join: candidate
                   generation without the quadratic join
- **SimHash**      63+1-bit sign-aggregate fingerprint + pigeonhole chunk
                   join for hamming-distance candidates

Every family also ships an INCREMENTAL batch-vs-persisted-index mode
(the daily-ingest shape — re-deduping a 100 TB corpus to admit a 0.1%
crawl is infeasible): :func:`dedup_exact_incremental` (fingerprint
index), :func:`dedup_lines_incremental` (line-key index),
:func:`minhash_lsh_incremental` (signature index), and
:func:`simhash_incremental_pairs` (64-bit fingerprint index, shared
by text SimHash, image pHash, and audio band signatures); the pair
lists those emit merge into persisted component labels via
:func:`connected_components_incremental` (r11), so the KEEP/DROP step
is incremental too. Compose exact FIRST so identical copies never
reach the banded joins. When
the persisted index itself is corpus-sized, the exact gate has a
Bloom-prefiltered variant (:func:`dedup_exact_incremental_bloom` +
:func:`bloom_bitmap`) that probes a distributed ~30×-smaller bitmap
and touches the index only through a broadcast of the maybe set —
identical admitted rows, no index shuffle.

Scale design: every step is per-row column algebra or a key-partitioned
join — no driver-side state, no Python UDFs. The LSH/simhash candidate
joins shuffle on band/chunk keys; hot buckets (boilerplate shingles) are
the skew risk, so the inverted-index paths drop shingles whose document
frequency exceeds ``max_df`` and the banded/pigeonhole self-joins drop
(band, bucket) keys over ``max_bucket`` — boilerplate contributes
candidates quadratically while carrying no dedup signal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import text as tx
from ..functions.litarrays import lit_longs

_WIDE_PLAN_NODES = (
    "Join", "Aggregate", "Window", "Deduplicate", "Repartition",
    "RepartitionByExpression", "Sort", "GlobalLimit", "Union",
)

# Node names are matched at the START of a plan-tree line (after the
# tree-drawing prefix and an optional unresolved-plan quote), word-
# bounded — raw substring containment classified any plan whose COLUMN
# NAMES or string literals contained a node word (a literal 'Join us')
# as wide and silently skipped the CPU-spread (r11 advisor finding).
# Longest alternative first so 'Repartition' can't shadow
# 'RepartitionByExpression' (either way one matches, but keep it
# deterministic).
import re as _re

_WIDE_PLAN_RE = _re.compile(
    r"^[\s+:\-]*'?(?:%s)\b"
    % "|".join(sorted(_WIDE_PLAN_NODES, key=len, reverse=True)),
    _re.MULTILINE,
)


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """CPU-parallelism guard. Tokenize/shingle/hash work is CPU-bound
    per row, but parquet splits are byte-sized — a small corpus arrives
    as one split and the whole normalize/explode stage would run in ONE
    task (measured 3× slower than spread at sf0.1). Repartition by doc
    id only when the input has fewer partitions than cores; at real
    scale (input splits ≥ cores) this is a no-op, so no 100 TB corpus
    pays an extra full-shuffle.

    The partition-count probe runs ONLY on narrow (scan/project/
    filter) plans: under AQE, ``df.rdd`` finalizes the adaptive plan,
    which EXECUTES any upstream shuffle stages just to read a
    partition count — and the caller's later consumption re-runs them
    (r11 review finding). A plan containing a wide node already has a
    shuffle.partitions-sized output, so the spread would be a no-op
    there anyway; skip the probe entirely. Node detection anchors on
    plan-tree line starts (``_WIDE_PLAN_RE``), not raw substring
    containment, so a column name or filter literal containing a node
    word cannot fake a wide plan (r11 advisor finding)."""
    sc = docs.sparkSession.sparkContext
    plan = docs._jdf.queryExecution().analyzed().toString()
    if _WIDE_PLAN_RE.search(plan):
        return docs
    if docs.rdd.getNumPartitions() >= sc.defaultParallelism:
        return docs
    return docs.repartition(sc.defaultParallelism, F.col(id_col))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by normalized-content fingerprint:
    (fingerprint, copies, keep_id = min id). NULL-text rows have a NULL
    fingerprint (md5(NULL) = NULL) and form NO group — a NULL key is
    absent content, not shared content, so two NULL-text rows are not
    duplicates of each other (the same exemption the whole exact family
    applies; see :func:`dedup_exact`)."""
    return (
        _spread(docs, id_col).select(
            tx.content_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("copies") > 1)
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact content group (deterministic winner,
    unlike the reference's scan-order first-seen — SURVEY.md §1.4.7).

    NULL-text rows are EXEMPT — always kept, never grouped: their
    fingerprint is NULL and NULL is not a content identity (same
    convention as the line family's short-line exemption). The
    single-pass plan makes that explicit: the min-id winners frame is
    built over non-NULL fingerprints only, docs LEFT-join it, and the
    keep predicate is ``fp IS NULL OR id = winner`` — one scan, the
    same one fingerprint-keyed exchange as before."""
    fp = tx.content_fingerprint(F.col(text_col)).alias("_fp")
    docs = _spread(docs, id_col)
    w_min = (
        docs.select(fp, F.col(id_col).alias("_keep"))
        .filter(F.col("_fp").isNotNull())
        .groupBy("_fp")
        .agg(F.min("_keep").alias("_keep"))
    )
    return (
        docs.withColumn("_fp", tx.content_fingerprint(F.col(text_col)))
        .join(w_min, "_fp", "left")
        .filter(F.col("_fp").isNull() | (F.col(id_col) == F.col("_keep")))
        .drop("_fp", "_keep")
    )


def dedup_exact_incremental(
    new_docs: DataFrame,
    index_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup of a NEW batch against a PERSISTED fingerprint
    index — the daily-ingest twin of :func:`minhash_lsh_incremental`
    for the exact family (and the batch stage the LSH docstrings'
    exact-dedup-first composition contract refers to). The index is a
    one-column ``(fingerprint)`` frame — fingerprints of every
    previously admitted document (persist ``updated_index``, read it
    back tomorrow); it never carries texts, so at 100 TB the index is
    ~32 bytes/doc and the batch's texts are read exactly once.

    Returns ``(admitted, updated_index)``:

    - ``admitted`` = new docs (original columns) whose normalized
      content fingerprint is in neither the index nor an earlier
      batch row — within-batch ties pick min ``id_col``, the same
      deterministic winner as :func:`dedup_exact`. The INDEX member
      of a cross-duplicate is always canonical (the index carries no
      ids to compare, and an already-admitted doc must never be
      retroactively evicted), so ``admitted`` equals the new-doc
      subset of ``dedup_exact(index_corpus ∪ batch)`` exactly when
      batch ids sort after the index ids they duplicate — the normal
      monotone-id ingest; with interleaved id spaces the full run
      could crown a batch doc min-id winner where this gate keeps the
      index member (same canonical-index convention as
      :func:`minhash_lsh_incremental`'s KEEP/DROP guidance;
      test-pinned under the monotone convention). NULL-text rows
      (NULL fingerprint) are EXEMPT: every one is admitted without
      consulting the index — a NULL key is absent content, not shared
      content — and none enters ``updated_index`` (an all-NULL-key
      index row could never match anything and would only bloat the
      persisted frame). Re-feeding a batch therefore re-admits its
      NULL-text rows: idempotence is a property of the *deduplicable*
      rows only (test-pinned).
    - ``updated_index`` = ``index_fps`` ∪ admitted fingerprints —
      columnar and lazy; writing it back amortizes into the caller's
      sink.

    Plan: one fingerprint projection over the batch, one min-id
    aggregation keyed on the fingerprint (high-cardinality hash —
    uniform), one left-anti join against the index on the same key.
    A Structured Streaming ingest gets the same gate stateless-ly:
    ``content_fingerprint`` is a per-row expression, so a stream can
    project it and stream-static left-anti join the persisted index
    (within-microbatch ties handled by the watermarked first-arrival
    dedup in ``streaming/corpus.py``)."""
    fp = tx.content_fingerprint(F.col(text_col))
    batch = _spread(new_docs, id_col).withColumn("_fp", fp)
    # NULL fingerprints are exempt: admitted unconditionally, never
    # indexed (the inner/anti joins below are NULL-rejecting, so
    # without the split they would silently DROP NULL-text rows)
    exempt = batch.filter(F.col("_fp").isNull()).drop("_fp")
    gated = batch.filter(F.col("_fp").isNotNull())
    # within-batch first-seen, then drop anything the index has seen
    firsts = gated.groupBy("_fp").agg(F.min(id_col).alias("_keep"))
    admitted = (
        gated.join(firsts, "_fp")
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
        .join(
            index_fps.select(F.col("fingerprint").alias("_fp")),
            "_fp",
            "left_anti",
        )
    )
    updated_index = index_fps.unionAll(
        admitted.select(F.col("_fp").alias("fingerprint"))
    )
    return admitted.drop("_fp").unionByName(exempt), updated_index


# ---------------------------------------------------------------------------
# Bloom-filter prefilter for the incremental exact gate
# ---------------------------------------------------------------------------

def _fp_cols(fp_col: str | tuple[str, ...] | list[str]) -> list[str]:
    return [fp_col] if isinstance(fp_col, str) else list(fp_col)


def _bloom_probes(fps: list[Column], m_bits: int, k: int) -> Column:
    """Array of the k bloom probe positions for one (possibly
    composite) key: ``pmod(xxhash64(iL, *key), m_bits)`` — k
    independently seeded hashes rather than the h1+i*h2
    double-hashing shortcut, because Spark 4 runs ANSI arithmetic (the
    wrap-around multiply would raise on overflow) and each xxhash64 is
    a codegen'd expression anyway. Pure replay-deterministic column
    algebra with a dependency-free Python twin (testing/xxh64.py)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i).cast("long"), *fps), F.lit(m_bits))
            for i in range(k)
        ]
    )


def bloom_bitmap(
    fps: DataFrame,
    m_bits: int = 1 << 27,
    k: int = 5,
    fp_col: str | tuple[str, ...] = "fingerprint",
) -> DataFrame:
    """Distributed Bloom bitmap over a fingerprint set: ``(word, bits)``
    rows where ``word = position >> 6`` and ``bits`` OR-accumulates the
    64 positions of that word — the compact membership summary the
    incremental gates probe INSTEAD of the full index. Sparse by
    construction (words with no set bit have no row), at most
    ``min(k·n, m_bits/64)`` rows regardless of corpus size.

    Plan: explode the k probe positions (narrow, inside the scan) →
    ONE groupBy(word) bit_or — the partial aggregation collapses each
    word map-side, so the exchange ships at most ``m_bits/64`` rows no
    matter how many fingerprints stream through. No driver state:
    unlike ``df.stat.bloomFilter`` (which collects the whole filter to
    the driver), the bitmap IS a DataFrame — persist it next to the
    index, merge daily deltas with :func:`bloom_bitmap_merge`.

    NULL fingerprints contribute no bits (and :func:`bloom_maybe`
    never consults the bitmap for them), matching the exact gate's
    NULL contract. ``fp_col`` may be a tuple of column names for
    COMPOSITE keys (the line family's two-lane ``(h, h2)`` keys) —
    the probes hash all components together; rows with ANY NULL
    component are dropped, since Spark's xxhash64 skips NULL lanes
    and would otherwise merge distinct partial keys. Size ``m_bits``
    at ~8-10 bits per EXPECTED index key (k=5, FP ≈ 2-3%); the
    default 2²⁷ covers ~13M keys. The (m_bits, k) pair is part of the
    persisted bitmap's identity — probing with different parameters
    is undefined; keep them with the index metadata."""
    cols = _fp_cols(fp_col)
    keep = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        keep = keep & F.col(c).isNotNull()
    return (
        fps.filter(keep)
        .select(
            F.explode(
                _bloom_probes([F.col(c) for c in cols], m_bits, k)
            ).alias("pos")
        )
        .select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bits"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bloom_bitmap_merge(*bitmaps: DataFrame) -> DataFrame:
    """OR-merge bloom bitmaps built with the SAME (m_bits, k): union +
    one word-keyed bit_or. Bloom filters are unions under OR, so the
    daily-ingest loop never rebuilds over history — merge yesterday's
    bitmap with :func:`bloom_bitmap` over today's admitted docs."""
    out = bitmaps[0]
    for b in bitmaps[1:]:
        out = out.unionAll(b)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_fill_fraction(bitmap: DataFrame, m_bits: int) -> float:
    """Fraction of set bits in a :func:`bloom_bitmap` — the filter's
    health gauge. One ``sum(bit_count(bits))`` aggregation (the sparse
    frame is at most ``m_bits/64`` rows, so this is telemetry-cheap at
    any scale); the result is a model-bounded driver scalar, same
    category as the repo's fit/fuse collects.

    Why it matters: a Bloom filter's false-positive rate is
    ``fill^k``, so fill is the ONE number that says whether the
    prefilter still prefilters. At the sizing guidance (~8-10
    bits/key, k=5) fill sits near 0.3-0.45 and FP ≈ 0.2-2%; past
    fill ≈ 0.5 FP ≈ 3% and climbing steeply (0.7 → 17%, 0.9 → 59%);
    at saturation every probe answers "maybe" and the gate silently
    degenerates into the batch-sized broadcast it exists to avoid —
    still CORRECT (the exact hits join rescues the admitted set,
    test-pinned at m_bits=64) but no longer a prefilter. The
    daily-ingest loop should log this against its ingest counter and
    re-size/rebuild the bitmap when growth pushes it past ~0.5 —
    or pass ``max_fill`` to the bloom gates to make the breach loud."""
    # bit_or per word first (r16): the append-only bloom state carries
    # several rows per word (one per delta), and summing raw
    # bit_counts would double-count bits set in more than one delta —
    # merge to the canonical value, then count. One extra aggregation
    # on a ≤ m_bits/64-row frame; telemetry stays telemetry-cheap.
    row = (
        bitmap.groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .agg(F.sum(F.bit_count(F.col("bits"))).alias("set_bits"))
        .collect()[0]
    )
    return (row["set_bits"] or 0) / float(m_bits)


def _check_bloom_fill(
    bitmap: DataFrame, m_bits: int, k: int, max_fill: float | None
) -> None:
    """Raise if the bitmap's fill fraction exceeds ``max_fill`` — the
    opt-in saturation guard shared by :func:`bloom_maybe` and the
    bloom gates. Opt-in (default ``None``) because saturation is a
    CORRECTNESS non-event (the gates' exact verify join absorbs any FP
    rate, and the grid tests deliberately run m_bits=64); what it
    breaks is the performance contract, and only the caller knows
    whether this run is the daily-ingest loop that depends on it."""
    if max_fill is None:
        return
    fill = bloom_fill_fraction(bitmap, m_bits)
    if fill > max_fill:
        raise ValueError(
            f"bloom bitmap saturated: fill={fill:.3f} > max_fill={max_fill}"
            f" (m_bits={m_bits}, k={k}, FP ≈ fill^k = {fill ** k:.3f});"
            " the prefilter would pass ~that fraction of the batch"
            " through as 'maybe' — re-size m_bits (~8-10 bits per"
            " expected index key) and rebuild the bitmap"
        )


def bloom_maybe(
    fps: DataFrame,
    bitmap: DataFrame,
    m_bits: int = 1 << 27,
    k: int = 5,
    fp_col: str | tuple[str, ...] = "fingerprint",
    broadcast_bitmap: bool = True,
    max_fill: float | None = None,
) -> DataFrame:
    """(fp_col, bloom_maybe) — Bloom membership verdict per DISTINCT
    fingerprint: ``true`` iff all k probe bits are set in ``bitmap``
    (built with the same m_bits/k). No false negatives ever — a
    fingerprint the bitmap was built over always reports ``true``;
    false positives at the sized-for rate are expected and are exactly
    what the residual verify join exists for. NULL fingerprints are
    dropped (callers gate them separately; the exact family admits
    them without consulting any index).

    Plan: explode k probes → left join the bitmap on ``word`` (a
    missing word row means those 64 bits are all zero — coalesce(bits,
    0)) → per-(fingerprint, position) ``bool_or`` → per-fingerprint
    ``bool_and``. The intermediate ``bool_or`` (r16) makes the probe
    DUPLICATE-TOLERANT: a bitmap carrying several rows per word — the
    append-only bloom state, where each ingest day's delta contributes
    its own word rows — reads as the OR of its rows, exactly the
    merged bitmap's value; for the canonical one-row form the bool_or
    is the identity and the verdicts are bit-identical to the r15
    plan. Both aggregations key on the batch's fingerprints, so the
    extra level is batch-bounded, never
    index-bounded. ``broadcast_bitmap=True`` (default)
    broadcasts the bitmap — right for bitmaps up to a few hundred MB;
    at full 100 TB index scale (a ~10¹¹-fingerprint bitmap is ~10¹⁰
    words ≈ 150 GB) set it False for a word-keyed shuffle join, still
    ~30× less IO than joining the fingerprint index itself.

    ``max_fill`` (opt-in): raise if the bitmap's fill fraction
    exceeds the bound BEFORE probing — an undersized/overgrown bitmap
    saturates silently (every probe answers "maybe", the prefilter
    stops prefiltering while staying correct); ~0.5 is the sensible
    bound (FP ≈ 3% at k=5). See :func:`bloom_fill_fraction` for the
    fill→FP curve and the re-size guidance."""
    _check_bloom_fill(bitmap, m_bits, k, max_fill)
    cols = _fp_cols(fp_col)
    keep = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        keep = keep & F.col(c).isNotNull()
    bmp = F.broadcast(bitmap) if broadcast_bitmap else bitmap
    probed = (
        fps.filter(keep)
        .select(
            *[F.col(c) for c in cols],
            F.explode(
                _bloom_probes([F.col(c) for c in cols], m_bits, k)
            ).alias("pos"),
        )
        .select(
            *cols,
            "pos",
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .join(bmp, "word", "left")
    )
    per_pos = probed.groupBy(*cols, "pos").agg(
        F.bool_or(
            F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(
                F.col("mask")
            )
            != 0
        ).alias("pos_set")
    )
    return per_pos.groupBy(*cols).agg(
        F.bool_and(F.col("pos_set")).alias("bloom_maybe")
    )


def dedup_exact_incremental_bloom(
    new_docs: DataFrame,
    index_fps: DataFrame,
    bitmap: DataFrame,
    m_bits: int = 1 << 27,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bitmap: bool = True,
    max_fill: float | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`dedup_exact_incremental` with a Bloom prefilter — SAME
    admitted set, different join topology, built for the regime where
    the persisted index is 100 TB-corpus-sized and the daily batch is
    not.

    The plain gate's ``batch LEFT ANTI index`` join must either
    shuffle the full index on fingerprint (the dominant cost — the
    batch side is noise) or broadcast the whole batch's fingerprints
    (10⁸-row day ≈ several GB — over any sane broadcast bound). The
    bloom path breaks the dilemma:

    1. probe the batch's distinct fingerprints against the BITMAP
       (:func:`bloom_maybe` — a structure ~30× smaller than the index,
       itself broadcastable until ~10⁹ index docs);
    2. the ``bloom_maybe`` survivors — true duplicates plus the sized
       FP rate of the batch, typically 10-100× fewer rows than the
       batch — are small enough to BROADCAST against the index:
       ``hits = index ⋈ broadcast(maybe_fps)`` streams the index
       map-side, no index shuffle, no index-sized broadcast;
    3. ``admitted = batch_firsts LEFT ANTI hits`` — hits is at most
       the true-duplicate set, tiny, broadcast by AQE.

    Bloom false positives cost one extra broadcast row each and are
    removed by the exact hits join — the admitted set is exactly the
    plain gate's (test-pinned on randomized corpora). False negatives
    cannot occur when ``bitmap`` covers ``index_fps`` (built or merged
    over every fingerprint in it — the caller's persistence contract,
    same (m_bits, k)).

    Returns ``(admitted, updated_index, updated_bitmap)`` — the last
    is the OR-merge of ``bitmap`` with the admitted fingerprints' bits,
    so tomorrow's run reads back both frames and the bitmap never
    needs rebuilding from history. As the index grows, the FIXED
    (m_bits, k) bitmap fills; pass ``max_fill`` (e.g. 0.5) to fail
    loudly instead of silently degrading into the batch-sized
    broadcast — see :func:`bloom_fill_fraction`."""
    fp = tx.content_fingerprint(F.col(text_col))
    batch = _spread(new_docs, id_col).withColumn("_fp", fp)
    # same NULL exemption as the plain gate (identity contract): NULL
    # fingerprints bypass bloom + index and never update either
    exempt = batch.filter(F.col("_fp").isNull()).drop("_fp")
    gated = batch.filter(F.col("_fp").isNotNull())
    firsts = gated.groupBy("_fp").agg(F.min(id_col).alias("_keep"))
    kept = (
        gated.join(firsts, "_fp")
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
    )
    maybe_fps = (
        bloom_maybe(
            kept.select(F.col("_fp").alias("fingerprint")),
            bitmap,
            m_bits=m_bits,
            k=k,
            broadcast_bitmap=broadcast_bitmap,
            max_fill=max_fill,
        )
        .filter(F.col("bloom_maybe"))
        .select("fingerprint")
    )
    hits = index_fps.join(F.broadcast(maybe_fps), "fingerprint", "inner")
    admitted = kept.join(
        hits.select(F.col("fingerprint").alias("_fp")), "_fp", "left_anti"
    )
    admitted_fps = admitted.select(F.col("_fp").alias("fingerprint"))
    updated_index = index_fps.unionAll(admitted_fps)
    updated_bitmap = bloom_bitmap_merge(
        bitmap, bloom_bitmap(admitted_fps, m_bits=m_bits, k=k)
    )
    return (
        admitted.drop("_fp").unionByName(exempt),
        updated_index,
        updated_bitmap,
    )


def dedup_lines_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
    out_col: str = "clean_text",
) -> DataFrame:
    """CORPUS-level line deduplication (the C4 recipe, Raffel et al.
    2020 §2.2: any line occurring more than once in the whole corpus
    keeps exactly ONE occurrence): returns (id_col, out_col,
    n_lines_kept, n_lines_dropped) with every document's duplicated
    lines removed except the corpus-wide first occurrence — the
    boilerplate killer (nav bars, cookie banners, license headers
    repeat across thousands of pages; per-DOCUMENT dedup never sees
    them).

    Semantics: lines split on ``\\n`` after trailing-``\\r`` strip; the
    canonical occurrence is the minimum (doc id, line index) — a total
    order, so the keep decision is deterministic and replay-stable
    (C4 keeps an arbitrary one; a distributed pipeline needs the
    choice to be a pure function of the data). Lines shorter than
    ``min_line_chars`` (after trim) are EXEMPT — always kept: short
    lines ("", "1.", "yes") collide by coincidence, not provenance,
    and deduping them mangles innocent documents. NULL text keeps a
    NULL ``out_col``; the rebuilt text joins kept lines with ``\\n``
    (trailing-empty-line structure within the kept set is preserved
    by position).

    Plan: posexplode the line array (narrow, inside the scan) → hash
    lines to a 128-bit composite key (two independently seeded
    xxhash64 lanes — a single 64-bit key reaches birthday-bound
    collision odds at C4's own scale, ~5·10⁹ distinct lines, and a
    collision here silently deletes an innocent line corpus-wide; at
    128 bits the odds at 10¹¹ lines are ~10⁻¹⁸, and the exchanges
    still ship 16 bytes instead of the line text) → ONE
    groupBy(line_key) computing the min-(id, idx) canonical occurrence
    (partial agg absorbs hot boilerplate keys map-side — the agg is a
    min, so a line repeated 10⁸ times still reduces to one row per
    partition before the exchange) → join occurrences back on the key
    (no fan-out: each occurrence matches exactly one canonical row) →
    per-doc rebuild via sort_array over (idx, line) structs on the id
    the explode already carried. Three exchanges total (line-key agg,
    key join, doc rebuild), all key-partitioned, no driver state."""
    base, keyed, firsts = _lines_batch_prep(
        docs, text_col, id_col, min_line_chars
    )
    # the full run IS the incremental finish with every within-batch
    # first key allowed (new_keys = firsts) — shared machinery, so the
    # corpus and incremental line families can never drift (r11 review
    # finding: this body used to restate _lines_batch_prep verbatim)
    return _lines_incremental_finish(base, keyed, firsts, id_col, out_col)


def dedup_lines_incremental(
    new_docs: DataFrame,
    line_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
    out_col: str = "clean_text",
) -> tuple[DataFrame, DataFrame]:
    """C4-style line dedup of a NEW batch against a PERSISTED line-key
    index — the daily-ingest mode for the line family, completing the
    incremental trio (:func:`dedup_exact_incremental`,
    :func:`minhash_lsh_incremental`, :func:`simhash_incremental_pairs`):
    re-running :func:`dedup_lines_corpus` over 100 TB of history to
    admit a day's crawl would re-shuffle every line ever seen, but the
    corpus-wide keep decision only needs the SET of line keys already
    emitted.

    ``line_index`` is a two-column ``(h, h2)`` frame — the 128-bit
    two-lane keys of every dedupable line the corpus has already kept
    (~16 bytes/distinct line; never the line text). Returns
    ``(cleaned, updated_index)``:

    - ``cleaned`` = the batch in :func:`dedup_lines_corpus`'s output
      shape (id, out_col, n_lines_kept, n_lines_dropped): a dedupable
      line drops if its key is IN the index (the corpus copy is
      canonical) or a smaller (id, idx) batch occurrence exists
      (within-batch first-seen — the full run's exact rule). Short
      lines stay exempt, NULL text keeps a NULL ``out_col``. Under
      monotone-id ingest (batch ids after index ids — the normal
      case, same convention as :func:`dedup_exact_incremental`) this
      is EXACTLY the batch-doc subset of a full-corpus rerun.
    - ``updated_index`` = index ∪ the batch's newly emitted line keys
      (already distinct — no rebuild from history, write-back
      amortizes into the caller's sink).

    Plan: the batch explodes/hashes once (same shared machinery as the
    full run), ONE (h, h2)-keyed aggregation for within-batch firsts,
    one left-anti join of those firsts against the index (key-
    partitioned; the index never fans out — firsts are unique per key,
    so a duplicated index row cannot duplicate output lines), one
    doc-keyed rebuild. The index side of the anti join is the one
    corpus-sized term; :func:`dedup_lines_incremental_bloom` is the
    same gate with that join replaced by a bitmap probe + broadcast-
    probed index scan when even one index shuffle is too much."""
    base, keyed, firsts = _lines_batch_prep(
        new_docs, text_col, id_col, min_line_chars
    )
    # keys the batch is ALLOWED to emit: within-batch firsts whose key
    # the corpus has never kept
    new_keys = firsts.join(
        line_index.select("h", "h2"), ["h", "h2"], "left_anti"
    )
    cleaned = _lines_incremental_finish(base, keyed, new_keys, id_col, out_col)
    updated_index = line_index.select("h", "h2").unionAll(
        new_keys.select("h", "h2")
    )
    return cleaned, updated_index


def dedup_lines_incremental_bloom(
    new_docs: DataFrame,
    line_index: DataFrame,
    bitmap: DataFrame,
    m_bits: int = 1 << 27,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
    out_col: str = "clean_text",
    broadcast_bitmap: bool = True,
    max_fill: float | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`dedup_lines_incremental` with the Bloom prefilter —
    SAME cleaned rows, index-scan-only topology. The line-key index
    is the LARGEST index of any dedup family (distinct lines run ~10×
    document count), so its anti join is the family's biggest
    incremental cost; the same three-step break as
    :func:`dedup_exact_incremental_bloom` removes it:

    1. probe the batch's within-batch first keys against a bitmap
       built over the index's composite ``(h, h2)`` keys
       (:func:`bloom_bitmap` with ``fp_col=("h", "h2")``);
    2. ``hits = index ⋈ broadcast(maybe keys)`` — one map-side index
       scan, no index shuffle, no batch-sized broadcast;
    3. allowed = firsts LEFT ANTI hits (tiny right side).

    False positives cost one broadcast row each and die in the exact
    hits join; false negatives cannot occur when ``bitmap`` covers
    ``line_index`` under the same (m_bits, k). Returns
    ``(cleaned, updated_index, updated_bitmap)`` — persist the last
    two together for day N+1. ``max_fill`` (opt-in, e.g. 0.5) trips
    the saturation guard when index growth has overfilled the fixed
    bitmap — see :func:`bloom_fill_fraction`; the line index grows
    fastest of any family, so this gate is the one most worth
    guarding."""
    base, keyed, firsts = _lines_batch_prep(
        new_docs, text_col, id_col, min_line_chars
    )
    maybe = (
        bloom_maybe(
            firsts.select("h", "h2"),
            bitmap,
            m_bits=m_bits,
            k=k,
            fp_col=("h", "h2"),
            broadcast_bitmap=broadcast_bitmap,
            max_fill=max_fill,
        )
        .filter(F.col("bloom_maybe"))
        .select("h", "h2")
    )
    hits = line_index.select("h", "h2").join(
        F.broadcast(maybe), ["h", "h2"], "inner"
    )
    new_keys = firsts.join(hits, ["h", "h2"], "left_anti")
    cleaned = _lines_incremental_finish(base, keyed, new_keys, id_col, out_col)
    updated_index = line_index.select("h", "h2").unionAll(
        new_keys.select("h", "h2")
    )
    updated_bitmap = bloom_bitmap_merge(
        bitmap,
        bloom_bitmap(
            new_keys.select("h", "h2"), m_bits=m_bits, k=k, fp_col=("h", "h2")
        ),
    )
    return cleaned, updated_index, updated_bitmap


def _lines_batch_prep(
    new_docs: DataFrame, text_col: str, id_col: str, min_line_chars: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared batch stage of the incremental line gates: (base, keyed
    line rows with two-lane keys + dedupable flag, within-batch first
    occurrences per key)."""
    base = _spread(new_docs, id_col).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    )
    lines = base.select(
        "id",
        F.posexplode(
            F.split(F.regexp_replace(F.col("_t"), "\r\n", "\n"), "\n")
        ).alias("idx", "line"),
    )
    keyed = (
        lines.withColumn(
            "_dedupable", F.length(F.trim(F.col("line"))) >= min_line_chars
        )
        .withColumn("h", F.xxhash64("line"))
        .withColumn("h2", F.xxhash64(F.lit(1).cast("long"), F.col("line")))
    )
    firsts = (
        keyed.filter(F.col("_dedupable"))
        .groupBy("h", "h2")
        .agg(F.min(F.struct("id", "idx")).alias("_first"))
    )
    return base, keyed, firsts


def _lines_incremental_finish(
    base: DataFrame,
    keyed: DataFrame,
    new_keys: DataFrame,
    id_col: str,
    out_col: str,
) -> DataFrame:
    """Shared keep/rebuild tail of the incremental line gates:
    ``new_keys`` (unique per key, carrying ``_first``) marks the keys
    the batch may emit; everything else dedupable drops."""
    kept = keyed.join(
        new_keys.withColumn("_new", F.lit(True)), ["h", "h2"], "left"
    ).withColumn(
        "_keep",
        (~F.col("_dedupable"))
        | (
            F.col("_new").isNotNull()
            & (F.col("_first.id") == F.col("id"))
            & (F.col("_first.idx") == F.col("idx"))
        ),
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("_keep"), F.struct(F.col("idx"), F.col("line"))
                        )
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias(out_col),
        F.count_if(F.col("_keep")).alias("n_lines_kept"),
        F.count_if(~F.col("_keep")).alias("n_lines_dropped"),
    )
    cleaned = (
        base.select("id", F.col("_t").isNotNull().alias("_has_text"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(
                F.col("_has_text"), F.coalesce(F.col(out_col), F.lit(""))
            ).alias(out_col),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_lines_dropped", F.lit(0)).alias("n_lines_dropped"),
        )
    )
    return cleaned


def merge_position_islands(hits: DataFrame, n: int, id_col: str = "id") -> DataFrame:
    """(id_col, span_start, span_end, n_grams_in_span) from an
    (id, pos) hit stream where each hit covers token interval
    [pos, pos+n): the classic gaps-and-islands merge as window algebra
    — a hit opens a new island iff its position exceeds the running
    max span end of earlier hits. One doc-keyed exchange; shared by
    benchmark-decontamination spans and exact-substring dedup spans."""
    from pyspark.sql import Window as W

    w_prev = W.partitionBy("id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    w_run = W.partitionBy("id").orderBy("pos")
    marked = hits.withColumn(
        "_new",
        F.when(
            F.col("pos") > F.coalesce(F.max(F.col("pos") + n).over(w_prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_island", F.sum("_new").over(w_run))
    return (
        marked.groupBy(F.col("id").alias(id_col), "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams_in_span"),
        )
        .drop("_island")
    )


def excise_token_spans(
    corpus: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
    out_col: str = "clean_text",
) -> DataFrame:
    """(id_col, out_col, n_tokens_kept, n_tokens_dropped): every corpus
    document rebuilt from its token stream minus the tokens covered by
    ``spans`` (``(id_col, span_start, span_end)`` token intervals,
    end-exclusive). The shared excision tail of span-producing
    operators (benchmark decontamination, exact-substring dedup);
    fidelity caveat and full-row contract as documented at
    ``decontam.excise_contaminated`` (NULL text → NULL out_col,
    zero-token text → empty, both zero counts)."""
    stream = token_stream(corpus, text_col, id_col, toks=toks)
    # explode spans to their covered positions and join on (id, pos):
    # the doc-id-only join fanned every token by every span of its
    # document (tokens × spans rows for template-heavy docs — r11
    # review finding); this shape is linear in tokens + covered
    # positions, and the distinct absorbs overlapping spans so the
    # left join can never fan a token out
    covered_pos = (
        spans.filter(F.col("span_end") > F.col("span_start"))
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.sequence(F.col("span_start"), F.col("span_end") - 1)
            ).alias("pos"),
        )
        .distinct()
        .withColumn("_cov", F.lit(1))
    )
    per_token = stream.join(covered_pos, ["id", "pos"], "left").select(
        "id",
        "pos",
        "tok",
        F.coalesce(F.col("_cov"), F.lit(0)).alias("covered"),
    )
    rebuilt = per_token.groupBy(F.col("id").alias(id_col)).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("covered") == 0,
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias(out_col),
        F.count_if(F.col("covered") == 0).alias("n_tokens_kept"),
        F.count_if(F.col("covered") == 1).alias("n_tokens_dropped"),
    )
    base = corpus.select(
        F.col(id_col), F.col(text_col).isNotNull().alias("_has_text")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.when(
            F.col("_has_text"), F.coalesce(F.col(out_col), F.lit(""))
        ).alias(out_col),
        F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
        F.coalesce("n_tokens_dropped", F.lit(0)).alias("n_tokens_dropped"),
    )


def exact_substring_spans(
    docs: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_grams_in_span): the merged
    token intervals of every NON-CANONICAL occurrence of a repeated
    ≥ ``min_tokens``-token substring, corpus-wide — the ExactSubstr
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed relationally: their
    suffix-array pass finds substrings of ≥ 50 tokens that repeat
    anywhere in the corpus and keeps one copy; here, a substring of
    length M ≥ L repeats iff all of its M−L+1 positional L-grams
    repeat, so duplicated-gram positions ARE the repeated regions, and
    the gaps-and-islands merge recovers the maximal spans without any
    suffix array.

    Canonical copy: for each duplicated gram, the minimum (doc id,
    position) occurrence is exempt, so exactly one copy of every
    repeated region survives excision (deterministic, replay-stable —
    Lee et al. keep an arbitrary one). When a region repeats 3+ times
    with partial overlaps, canonical grams can spread across documents
    and excision is slightly conservative (keeps a little more than
    one copy) — never destructive. Self-repeats WITHIN a document
    excise the same way (their first occurrence is the canonical).

    Plan: each token hashes ONCE to two independent 64-bit lanes, and
    the positional L-gram key is xxhash64 over the L lead values of
    each lane — L long leads per position instead of an L-token string
    concat (at the paper's L = 50 the concat form allocates ~300
    bytes/position and re-reads every token 50×; the long form
    processes a fixed 8 bytes/lead with no string churn). The key is
    128-bit by construction (a false gram match needs simultaneous
    collisions in two independently-seeded lanes — the line-dedup
    argument, squared, since gram count ≈ corpus token count). Then
    ONE groupBy over the gram key computing (count, min (id, pos)) —
    partial agg absorbs hot boilerplate grams map-side → inner join
    back (no fan-out) filtered to non-canonical occurrences of
    count > 1 grams → shared islands merge. One doc-keyed exchange
    serves the lead window; the gram text never exists, let alone
    ships."""
    stream = token_stream(docs, text_col, id_col, toks=toks)
    from pyspark.sql import Window as W

    w = W.partitionBy("id").orderBy("pos")
    th = stream.select(
        "id",
        "pos",
        F.struct(
            F.xxhash64("tok").alias("a"),
            F.xxhash64(F.lit(1).cast("long"), F.col("tok")).alias("b"),
        ).alias("_th"),
    )
    leads = [F.col("_th")] + [
        F.lead("_th", j).over(w) for j in range(1, min_tokens)
    ]
    grams = (
        th.select(
            "id",
            "pos",
            F.xxhash64(*[ld["a"] for ld in leads]).alias("h"),
            F.xxhash64(F.lit(1).cast("long"), *[ld["b"] for ld in leads]).alias(
                "h2"
            ),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "pos", "h", "h2")
    )
    grams = grams.localCheckpoint(eager=False)
    dup = (
        grams.groupBy("h", "h2")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .filter(F.col("_n") > 1)
    )
    hits = (
        grams.join(dup, ["h", "h2"])
        .filter(
            (F.col("_first.id") != F.col("id"))
            | (F.col("_first.pos") != F.col("pos"))
        )
        .select("id", "pos")
    )
    return merge_position_islands(hits, min_tokens, id_col)


def exact_substring_excise(
    docs: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
    out_col: str = "clean_text",
) -> DataFrame:
    """ExactSubstr dedup end-to-end (Lee et al. 2022): every corpus
    document with its non-canonical repeated-substring spans REMOVED —
    (doc_id, out_col, n_tokens_kept, n_tokens_dropped), one output row
    per input document. Composes :func:`exact_substring_spans` with
    the shared span-excision tail; tokenized-text fidelity caveat as
    at ``decontam.excise_contaminated``."""
    if toks is None:
        toks = token_arrays(docs, text_col, id_col).localCheckpoint(eager=False)
    spans = exact_substring_spans(docs, min_tokens, text_col, id_col, toks=toks)
    return excise_token_spans(docs, spans, text_col, id_col, toks, out_col)


# ---------------------------------------------------------------------------
# Shingle-Jaccard (exact) via inverted index
# ---------------------------------------------------------------------------

def token_arrays(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, toks: array<string>) — the tokenized corpus, one row per doc.

    The shared scan for every tokenization consumer: normalize + regex
    split happens ONCE here; shingling (``shingle_sets``) and SimHash
    fingerprints (``simhash_fingerprints``) both accept this frame and
    explode it themselves, so plans composing them
    (``simhash_verified_pairs``) don't re-read and re-tokenize the
    corpus per consumer. Kept as ONE ARRAY ROW PER DOC rather than a
    pre-exploded (id, pos, tok) stream deliberately: a checkpoint/cache
    of the exploded form materializes one serialized row per token
    occurrence (measured 3x slower end-to-end at sf0.1 than arrays),
    while the array form stores the same strings contiguously and lets
    each consumer's explode stay inside codegen."""
    return _spread(docs, id_col).select(
        F.col(id_col).alias("id"),
        tx.tokens(F.col(text_col)).alias("toks"),
    )


def token_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, pos, tok) — one exploded row per token occurrence (derived
    from ``token_arrays`` so the tokenize itself is shareable)."""
    if toks is None:
        toks = token_arrays(docs, text_col, id_col)
    return toks.select("id", F.posexplode("toks").alias("pos", "tok"))


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, shingle) postings — distinct word n-grams per document.

    Plan: posexplode tokens → window ``lead`` per document → concat →
    distinct. Everything stays in whole-stage codegen; the equivalent
    per-row array formulation (``tx.shingles``) goes through interpreted
    higher-order functions and measured ~20× slower on wide corpora.
    The window's doc-id shuffle doubles as the distinct's partitioning.
    Pass ``toks`` (a ``token_arrays`` result) to share one tokenize scan
    with other consumers.
    """
    stream = token_stream(docs, text_col, id_col, toks=toks)
    return _lead_shingles(stream, n).select("id", "sh").distinct()


def _lead_shingles(stream: DataFrame, n: int) -> DataFrame:
    """(id, pos, sh): the word n-gram STRING starting at every token
    position — THE single definition of the shingle recipe (separator,
    lead window, boundary filter). Both the set form (shingle_sets →
    hashed_postings) and the positional form
    (:func:`positional_hashed_shingles`, decontamination's span
    stream) derive from here, so the two sides of a
    corpus-vs-benchmark join can never hash differently (r11 review
    finding: the positional recipe used to be a hand copy in
    decontam.py — one drifted edit would have silently zeroed every
    contamination match)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    return (
        stream.select(
            "id",
            "pos",
            F.concat_ws(" ", *leads).alias("sh"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "pos", "sh")
    )


def positional_hashed_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, pos, sh: long) — every token position's hashed n-gram key,
    ONE xxhash64 per position over the shared :func:`_lead_shingles`
    recipe. The positional sibling of :func:`hashed_postings` (which
    dedups to the per-doc set); decontamination spans join this
    against the benchmark's hashed set."""
    stream = token_stream(docs, text_col, id_col, toks=toks)
    return _lead_shingles(stream, n).select(
        "id", "pos", F.xxhash64("sh").alias("sh")
    )


def hashed_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, sh: long) postings with shingles hashed to 64-bit keys: the
    shuffle ships longs instead of strings (collision odds ~n²/2⁶⁴ —
    immaterial).

    Materialized via ``localCheckpoint(eager=False)``: downstream plans
    consume postings 2-4 times (df-cap, sizes, join sides), and unlike
    ``persist()`` — whose CacheManager entry outlives the query and
    accumulates blocks across repeated invocations in one session — a
    local checkpoint's blocks are released by the ContextCleaner once the
    DataFrame is garbage collected. Caveat: local checkpoints are not
    fault-tolerant to executor loss; on a long-lived production cluster
    swap for reliable ``checkpoint()`` or an explicit persist/unpersist
    lifecycle around the consuming action.
    """
    p = shingle_sets(docs, text_col, id_col, n, toks=toks).select(
        "id", F.xxhash64("sh").alias("sh")
    )
    return p.localCheckpoint(eager=False)


def _checkpointed_once(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` unless the frame already IS a
    bare checkpoint/RDD (its analyzed plan is a single LogicalRDD
    node) — re-checkpointing an already-materialized frame stores a
    second full copy of its rows in block storage for nothing (review
    finding: simhash_verified_pairs checkpoints its candidate frame
    for the plan-choice count, and the verifier then checkpointed the
    3.2M-pair frame AGAIN)."""
    plan = df._jdf.queryExecution().analyzed().toString().strip()
    if plan.startswith("LogicalRDD") and "\n" not in plan:
        return df
    return df.localCheckpoint(eager=False)


def _set_sizes(postings: DataFrame) -> DataFrame:
    """(id, n_sh): per-doc shingle-set size of an (id, sh) postings
    frame."""
    return postings.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))


def _with_jaccard(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id1, id2, jaccard) at ``jaccard ≥ threshold`` from shared-shingle
    counts ``inter`` (id1, id2, n_common) and set sizes ``sizes``
    (:func:`_set_sizes`): jaccard = |∩| / (|A|+|B|-|∩|). Integer counts
    + one double division — oracle-exact across engines. The one
    Jaccard formula of every verify path here. The sizes join AFTER
    the intersection count: ``inter`` holds only pairs that share ≥1
    shingle, far fewer rows than a candidate list on imprecise
    screens, and the per-doc sizes frame is tiny (AQE broadcasts
    it)."""
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id1", "n_sh": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n_sh": "n2"}), "id2")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _postings_jaccard(postings: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of every pair sharing ≥1 shingle of ``postings``
    (id, sh): inverted-index self-join on the shingle (id1 < id2) →
    intersection counts → :func:`_with_jaccard`. Costs O(Σ df²) —
    callers bound df (``jaccard_pairs``' ``max_df``) or restrict the
    postings to candidate docs first. The one intersection shared by
    :func:`jaccard_pairs`, :func:`true_jaccard_for_pairs_dense` and
    :func:`simhash_verified_pairs`' dense plan."""
    inter = (
        postings.select(F.col("id").alias("id1"), "sh")
        .join(postings.select(F.col("id").alias("id2"), "sh"), "sh")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _with_jaccard(inter, _set_sizes(postings), threshold)


def _candidate_postings(
    cands: DataFrame, postings: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(cands, postings of candidate docs only). The pair list is
    consumed twice (id extraction + the caller's pair joins), so it is
    checkpointed — unless the caller already materialized it — and the
    generator's join runs once. Small by contract: every generator
    here is bucketed, never all-pairs. AQE turns the semi join into a
    broadcast once it sees the candidate-id count at runtime."""
    cands = _checkpointed_once(cands)
    cand_ids = (
        cands.select(F.col("id1").alias("id"))
        .unionAll(cands.select(F.col("id2").alias("id")))
        .distinct()
    )
    return cands, postings.join(cand_ids, "id", "left_semi")


def true_jaccard_for_pairs(
    cands: DataFrame,
    postings: DataFrame,
    threshold: float = 0.5,
    length_filter: bool = False,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs: join candidates to
    the postings on each side, count shared shingles, divide by union
    size. Candidate sets are tiny relative to the corpus, so postings are
    first semi-joined down to candidate ids — set sizes and both pair
    joins then cost O(candidate postings), not O(corpus postings); at
    corpus scale the alternative shuffles every document's shingles to
    verify a relative handful of pairs. Everything stays codegen'd (no
    HOFs). Returns (id1, id2, jaccard) with jaccard ≥ threshold."""
    cands, postings = _candidate_postings(cands, postings)
    sizes = _set_sizes(postings)
    # LENGTH FILTER (AllPairs/PPJoin's first prune, r12; OPT-IN since
    # r13): jaccard ≥ t bounds the set-size ratio — even when the
    # smaller set is fully contained, j = min/max — so pairs with
    # min(n1,n2) < t·max(n1,n2) cannot verify and are dropped BEFORE
    # their postings explode through the pair joins. The prune pays
    # only when the generator's precision is LOW (wide-radius SimHash
    # screens on templated corpora lose ~40% of candidates here —
    # measured r12, sf0.1); high-precision generators (MinHash bands)
    # prune ~nothing, and the filter's fixed costs — a sized pair
    # list, two extra joins, a localCheckpoint — are then pure
    # overhead on every call (r12's unconditional application
    # regressed dedup_minhash_incremental 4.75 → 7.6 s idle m3; r12
    # verdict finding #2). Callers that know their screen is
    # imprecise pass length_filter=True; the precision-known MinHash
    # paths keep the r11 plan.
    sized = cands.select("id1", "id2")
    if length_filter:
        sized = (
            sized
            .join(sizes.withColumnsRenamed({"id": "id1", "n_sh": "n1"}), "id1")
            .join(sizes.withColumnsRenamed({"id": "id2", "n_sh": "n2"}), "id2")
            .filter(
                F.least("n1", "n2").cast("double")
                >= F.lit(float(threshold)) * F.greatest("n1", "n2")
            )
            .select("id1", "id2")
            .localCheckpoint(eager=False)  # consumed by both pair joins
        )
    p1 = postings.select(F.col("id").alias("id1"), "sh")
    p2 = postings.select(F.col("id").alias("id2"), "sh")
    inter = (
        sized.join(p1, "id1")
        .join(p2, ["id2", "sh"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _with_jaccard(inter, sizes, threshold)


def true_jaccard_for_pairs_dense(
    cands: DataFrame, postings: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard verification for DENSE candidate sets — same
    result as :func:`true_jaccard_for_pairs`, different plan. The
    per-pair plan pays O(|cands| · shingles/doc) through the pair
    joins; when a wide screen admits candidates ≫ corpus size (a
    radius-15 SimHash screen on the templated sf0.1 corpus admits
    3.2M pairs for 5k docs — r12 measurement), that term dwarfs the
    inverted-index intersection O(Σ df²) the exact plan pays. This
    path intersects the candidate-restricted postings through the
    inverted index (UNCAPPED — no max_df, so the relation is exact),
    then keeps only verified pairs that are candidates (one broadcast
    of the tiny verified relation over the candidate list — the
    candidate frame never shuffles). Measured on the case above
    (r13 re-measurement — the r12 attribution overstated the per-pair
    term's share of the composite): per-pair verify ~23 s standalone,
    dense verify ~5.5 s, identical rows; candidate GENERATION (~27 s)
    dominated the composite either way, which is why
    :func:`simhash_verified_pairs` now skips the screen entirely in
    the dense regime. Candidates must carry ``id1 < id2`` (every
    generator here does)."""
    cands, p = _candidate_postings(cands, postings)
    # sizes + both self-join sides read the restricted postings
    jac = _postings_jaccard(p.localCheckpoint(eager=False), threshold)
    # no forced broadcast of the verified relation: it is tiny on
    # curated corpora, but the dense path is selected exactly on
    # duplicate-heavy inputs where verified pairs can approach O(n²) —
    # a broadcast PIN there would blow the driver/broadcast limits
    # where AQE degrades gracefully to a pair-keyed shuffle (review
    # finding); AQE still broadcasts it whenever it measures small
    return jac.join(
        cands.select("id1", "id2"), ["id1", "id2"]
    ).select("id1", "id2", "jaccard")


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    Plan: postings → (optional) drop shingles with document frequency >
    max_df (boilerplate: quadratic candidate blowup, no signal) →
    self-join on shingle (id1 < id2) → intersection counts → join per-doc
    set sizes → jaccard = |∩| / (|A|+|B|-|∩|) (:func:`_postings_jaccard`).
    Integer counts + one double division — oracle-exact across engines.
    Pass ``toks`` (a ``token_arrays`` result) to share one tokenize scan
    with the other dedup families.
    """
    postings = hashed_postings(docs, text_col, id_col, n, toks=toks)
    if max_df is not None:
        df_counts = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        postings = (
            postings.join(df_counts.filter(F.col("_df") <= max_df), "sh", "left_semi")
        )
    return _postings_jaccard(postings, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 128,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<long>[k]) — sig[i] = min over shingles of
    xxhash64(i, shingle).

    Plan: explode postings → k seeded hashes per posting → groupBy(id)
    with k MIN aggregates → assemble the array. All codegen'd; map-side
    partial MINs mean the shuffle carries only k longs per (doc,
    partition). (A per-row nested-``transform`` formulation is quadratic
    in practice: interpreted higher-order functions re-evaluate the
    shingle expression once per outer element — measured 128× slower.)

    Docs with no shingles (< n tokens) produce no postings and are
    excluded, matching the Jaccard path's behavior. Pass ``postings``
    (any (id, sh) frame — string or hashed shingles) to share one
    materialized posting set with the verification join.
    """
    if postings is None:
        postings = shingle_sets(docs, text_col, id_col, n)
    # Parsed-expression construction (r17): the per-Column form
    # (F.min(F.xxhash64(F.lit(i), col)) × k) cost ~640 py4j round
    # trips ≈ 1 s of driver time per call — and callers build two
    # signature frames per query. One F.expr per aggregate (and one
    # for the array assembly) is the same expression tree: SQL integer
    # literal i ≡ F.lit(i) (both IntegerType, so xxhash64 sees the
    # identical input), verified hash-identical end to end by the
    # dedup oracle rows.
    mins = postings.groupBy("id").agg(
        *[F.expr(f"min(xxhash64({i}, sh)) AS _m{i}") for i in range(k)]
    )
    return mins.select(
        "id",
        F.expr("array(" + ",".join(f"_m{i}" for i in range(k)) + ")").alias(
            "sig"
        ),
    )


def _check_banding(k: int, bands: int, rows_per_band: int) -> None:
    """Refuse band layouts that overrun the signature: slices past k
    are EMPTY arrays, so every overflowing band hashes every document
    to one constant bucket — either a planted n² self-join
    (max_bucket=None) or, capped, silently dead bands that void the
    documented 1-(1-j^r)^b recall math (r11 review finding). Checked
    at every entry point that knows k."""
    if bands * rows_per_band > k:
        raise ValueError(
            f"bands*rows_per_band = {bands}*{rows_per_band} = "
            f"{bands * rows_per_band} exceeds k={k}: bands past the "
            "signature end would all hash to one constant bucket — "
            "lower bands/rows_per_band or raise k"
        )


def _estimated_pairs(
    cands: DataFrame, s1_sigs: DataFrame, s2_sigs: DataFrame,
    k: int, threshold: float,
) -> DataFrame:
    """(id1, id2, est_jaccard ≥ threshold): signature-agreement
    estimate (fraction of equal min-hashes) joined onto a candidate
    pair list — the shared estimation tail of :func:`minhash_lsh_pairs`
    and :func:`minhash_lsh_incremental` (one definition, so the
    full-run and incremental estimators can never drift)."""
    s1 = s1_sigs.withColumnsRenamed({"id": "id1", "sig": "sig1"})
    s2 = s2_sigs.withColumnsRenamed({"id": "id2", "sig": "sig2"})
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig1"), F.col("sig2"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(k))
    return (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
    )


def _banded(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket): each signature exploded to its band keys
    (:func:`lsh_buckets_expr`) — the key frame of the self-join and
    incremental paths."""
    return signatures.select(
        "id",
        F.explode(lsh_buckets_expr(F.col("sig"), bands, rows_per_band)).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _hot_buckets(keys: DataFrame, max_bucket: int, on: list[str]) -> DataFrame:
    """Join keys whose population EXCEEDS ``max_bucket`` — the hot set
    :func:`_bucket_pairs` drops. Anti-joining this HOT set beats
    semi-joining its cold complement: hot keys number at most
    ``rows/max_bucket`` (each holds > max_bucket rows), so the
    anti-join's build side is model-sized and AQE turns it into a
    broadcast at runtime — two fewer O(keys·n) exchanges than the
    cold-side semi-join (A/B'd r10: cost-neutral at sf0.1, strictly
    fewer shuffled rows at scale). No explicit broadcast hint: in the
    pathological all-hot corpus the set degrades gracefully to a
    shuffled join instead of OOMing the driver."""
    return (
        keys.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select(*on)
    )


def _capped(keys: DataFrame, on: list[str], max_bucket: int | None) -> DataFrame:
    """``keys`` without the rows of its hot keys (:func:`_hot_buckets`);
    unchanged when ``max_bucket`` is None."""
    if max_bucket is None:
        return keys
    return keys.join(_hot_buckets(keys, max_bucket, on), on, "left_anti")


def _bucket_pairs(
    keys: DataFrame,
    on: tuple[str, ...],
    max_bucket: int | None,
    index: DataFrame | None = None,
    carry: str | None = None,
    expand: Column | None = None,
) -> DataFrame:
    """The bucketed candidate join of every near-dup family: pairs of
    ids sharing a bucket key ``on`` — MinHash (band, bucket), the
    64-bit fingerprint pigeonhole (chunk, val) of SimHash, pHash and
    audio, and hyperplane LSH (rot, bucket).

    ``keys`` is an (id, *on[, carry]) frame. Without ``index`` it is
    self-joined and pairs come back oriented id1 < id2. With ``index``
    (the same layout, built by earlier runs) it is the batch-vs-index
    shape: ONE join of the batch against index ∪ batch tagged ``_idx``.
    Batch-vs-index pairs keep id1 = batch id in every orientation
    (namespaces are disjoint by caller contract), within-batch pairs
    keep id1 < id2, and id1 = id2 never pairs — an id present in both
    batch and index (a broken namespace contract) would otherwise pair
    with itself, a pair the full run never produces. So the output is
    exactly the batch-involving subset of the self-join over
    index ∪ batch.

    HOT-BUCKET CAP — the one recall contract of every family's
    ``max_bucket``: any key holding MORE than ``max_bucket`` rows is
    dropped before the join, counted over the whole population (batch
    ∪ index in the incremental form — exactly the counts a full run
    over the union sees, so the subset invariant holds cap-for-cap).
    A near-identical cluster of c documents (template pages,
    boilerplate with counters — routine in web crawls even after exact
    dedup) collides in most of its keys, so uncapped it emits
    O(keys·c²) rows before the distinct from ONE cluster (~10¹² rows
    at c = 10⁶); capped, volume is bounded by Σ min(bucket, cap)² per
    key space. Recall: a pair is lost only if EVERY key it shares is
    hot — i.e. the pair sits inside a cluster already larger than the
    cap, where any retained key (or the cluster's own exact-dup
    collapse) still links it; pairs sharing many keys (high Jaccard,
    low hamming) are the last to go, so loss concentrates on the
    weakest candidates. Compose exact dedup FIRST
    (``exact_dup_groups`` / ``content_fingerprint``) so identical
    copies never reach the join; the cap then only fires on
    pathological near-identical floods. ``max_bucket=None`` keeps the
    exhaustive join.

    Materialization: a key frame with more than one consumer is
    materialized once through :func:`_checkpointed_once` (a no-op on
    a frame the caller already checkpointed) — ``keys`` always (both
    join sides, or the probe side plus the union), ``index`` when the
    cap counts it (count + join); the incremental hot set is
    checkpointed because it filters both sides.

    ``expand`` is an array-valued Column over a key row; the probe
    side (id1 — the batch, in the incremental form) joins once per
    element, which replaces its LAST ``on`` column (SimHash's
    single-bit piece variants, :func:`_piece_variants`).

    Returns distinct (id1, id2). With ``carry`` (a column of ``keys``
    and ``index``) it returns (id1, id2, <carry>_1, <carry>_2), one row
    per bucket collision and NOT yet distinct: the caller filters on
    the carried values, then applies the distinct — filtering first
    can only shrink the distinct's exchange."""
    on = list(on)
    extra = [carry] if carry else []
    keys = _checkpointed_once(keys)
    if index is None:
        keys = right = _capped(keys, on, max_bucket)
        keep = F.col("id1") < F.col("id2")
    else:
        if max_bucket is not None:
            index = _checkpointed_once(index)
        right = (
            index.select("id", *on, *extra).withColumn("_idx", F.lit(True))
            .unionAll(keys.select("id", *on, *extra).withColumn("_idx", F.lit(False)))
        )
        if max_bucket is not None:
            hot = _hot_buckets(right, max_bucket, on).localCheckpoint(eager=False)
            keys = keys.join(hot, on, "left_anti")
            right = right.join(hot, on, "left_anti")
        keep = (F.col("id1") != F.col("id2")) & (
            F.col("_idx") | (F.col("id1") < F.col("id2"))
        )
    left = keys.select(
        F.col("id").alias("id1"), *on, *[F.col(c).alias(f"{c}_1") for c in extra]
    )
    if expand is not None:
        left = left.withColumn(on[-1], F.explode(expand))
    right = right.withColumnsRenamed({"id": "id2", **{c: f"{c}_2" for c in extra}})
    pairs = left.join(right, on).filter(keep)
    if carry is None:
        return pairs.select("id1", "id2").distinct()
    return pairs.select("id1", "id2", f"{carry}_1", f"{carry}_2")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 32,
    rows_per_band: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Band the signature, hash each band, self-join per (band, hash).

    A pair collides in some band with probability 1-(1-j^r)^b — with
    b=32, r=4 the S-curve crosses ~0.5 at j≈0.42. One shuffle keyed by
    (band, band_hash); high-cardinality hashes distribute uniformly —
    EXCEPT when the corpus itself piles identical signatures into one
    bucket: a near-identical cluster collides in most of its b bands.
    ``max_bucket`` drops any (band, bucket) key holding more than the
    cap before the self-join — the hot-bucket cap and recall contract
    of :func:`_bucket_pairs`, shared with ``simhash_candidate_pairs``
    (and the same role as ``jaccard_pairs``' max_df).

    .. note:: **Behavior change (r10).** The cap is ON by default
       (10 000) here and in :func:`minhash_lsh_pairs` /
       :func:`minhash_lsh_verified_pairs`, where these entry points
       previously joined unconditionally. On a corpus with a
       (band, bucket) key above the cap, results CHANGE: that
       bucket's candidates are dropped and the recall argument is
       probabilistic, not exact. The default is deliberate — an
       uncapped join DNF'd at c=30k in the planted-flood measurement
       (SCALE.md) and a silent 10¹²-row shuffle is the worse default
       at the engine's design scale — but callers who need the old
       exhaustive semantics must pass ``max_bucket=None`` explicitly.
    """
    return _bucket_pairs(
        _banded(signatures, bands, rows_per_band), ("band", "bucket"), max_bucket
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Candidates via LSH, then estimated Jaccard from signature agreement
    (fraction of equal min-hashes), thresholded. Returns
    (id1, id2, est_jaccard). ``max_bucket`` is
    :func:`lsh_candidate_pairs`' hot-bucket cap — ON by default since
    r10 (a behavior change on flood corpora; see the note there, and
    pass ``max_bucket=None`` for the old exhaustive join)."""
    _check_banding(k, bands, rows_per_band)
    sigs = minhash_signatures(docs, text_col, id_col, n, k)
    # consumed three times (banding + both est-join sides); localCheckpoint
    # instead of persist so blocks release on GC (see hashed_postings).
    sigs = sigs.localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket)
    return _estimated_pairs(cands, sigs, sigs, k, threshold)


def minhash_lsh_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    toks: DataFrame | None = None,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """MinHash-LSH candidates post-verified by TRUE Jaccard on the
    shingle sets — the production near-dup plan. Returns
    (id1, id2, jaccard), identical to :func:`jaccard_pairs` whenever the
    LSH stage reaches full recall (with b=32, r=4 a pair at jaccard j
    is missed with probability (1-j⁴)³²: 4.7e-8 at j=0.8, 2.9e-13 at
    j=0.9 — near-dup corpora live well above that). Unlike the exact
    inverted-index join, candidate generation never touches shingle
    postings pairwise, so it survives boilerplate-heavy corpora at
    100 TB without a df cap — with ``max_bucket`` bounding the one
    remaining quadratic term, near-identical clusters piling into a
    single (band, bucket) key (see :func:`lsh_candidate_pairs` for
    the recall contract, the exact-dedup-first composition, and the
    r10 behavior-change note — the cap is ON by default; pass
    ``max_bucket=None`` for the exhaustive pre-r10 semantics). Pass
    ``toks`` to share one tokenize scan with the other dedup
    families."""
    _check_banding(k, bands, rows_per_band)
    postings = hashed_postings(docs, text_col, id_col, n, toks=toks)
    # checkpointed like minhash_lsh_pairs' sigs: the banding self-join
    # reads the signature frame on both sides, and without the
    # materialization each side recomputes the 128-min aggregation
    # (r9, A/B'd: entry m3 2.80 → 2.56 s, results identical)
    sigs = minhash_signatures(k=k, postings=postings).localCheckpoint(
        eager=False
    )
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket)
    return true_jaccard_for_pairs(cands, postings, threshold)


def minhash_sig_expr(
    text_col: Column, n: int = 3, k: int = 128, hashed: bool = True
) -> Column:
    """The MinHash signature as a STATELESS per-row column expression —
    the dedup family's streaming-gate twin (same pattern as DSIR's
    ``logweight_expr`` and the classifier's ``margin_expr``): a
    Structured Streaming ingest can sign each micro-batch row with
    this and stream-static join :func:`lsh_buckets_expr` output
    against a banded, broadcast corpus index — no stateful operator,
    no batch job.

    Bit-parity contract (test-pinned): ``hashed=True`` reproduces
    the production path's signatures (``minhash_signatures`` over
    ``hashed_postings`` — shingle → xxhash64 → seeded min) EXACTLY;
    ``hashed=False`` reproduces the string-shingle default. Docs with
    fewer than ``n`` tokens yield NULL, matching their exclusion from
    the batch frames. Cost note: this is interpreted HOF evaluation
    (k·|shingles| hashes per row) — right for micro-batch gating,
    wrong for corpus-scale batch signing, where the codegen'd
    aggregation in :func:`minhash_signatures` wins (the same
    shape rule recorded on ``pq_encode``)."""
    toks = tx.tokens(text_col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    sh = (
        F.transform(shingles, lambda s: F.xxhash64(s))
        if hashed
        else shingles
    )
    return F.when(
        F.size(shingles) > 0,
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.array_min(
                F.transform(sh, lambda s: F.xxhash64(i, s))
            ),
        ),
    )


def lsh_buckets_expr(
    sig_col: Column, bands: int = 32, rows_per_band: int = 4
) -> Column:
    """``array<struct<band,bucket>>`` of a signature's LSH band keys —
    the per-row twin of :func:`_banded` (same xxhash64-over-joined-
    band-slice construction, test-pinned equal), NULL for NULL
    signatures. ``explode`` it in a stream and join against the
    banded corpus index on (band, bucket) to flag probable near-dups
    of the existing corpus at ingest time."""
    return F.when(
        sig_col.isNotNull(),
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bidx: F.struct(
                bidx.alias("band"),
                F.xxhash64(
                    bidx,
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                sig_col, bidx * rows_per_band + 1, rows_per_band
                            ),
                            lambda v: v.cast("string"),
                        ),
                    ),
                ).alias("bucket"),
            ),
        ),
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
    new_postings: DataFrame | None = None,
    estimate: bool = True,
    new_sigs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection: a NEW batch against a PERSISTED
    signature index — the daily-ingest shape. Re-deduping a 100 TB
    corpus to admit a 0.1% daily crawl is infeasible; this touches the
    batch's texts ONCE (shingle + sign) and the index only through its
    (band, bucket) keys — cost scales with |batch| + the index rows
    whose buckets the batch actually hits, never the full corpus scan.

    ``index_sigs`` is a (id, sig) frame — exactly
    :func:`minhash_signatures` output from prior runs (typically a
    persisted parquet); it MUST have been built with the same
    (n, k) and the id namespaces must not collide (caller contract —
    ids are global corpus ids in production).

    Returns ``(pairs, updated_sigs)``:

    - ``pairs`` = (id1, id2, est_jaccard) at ``est_jaccard ≥
      threshold``, covering BOTH batch-vs-index collisions (id1 = new
      doc, id2 = index doc) and within-batch pairs (id1 < id2, both
      new). Signature estimation is used on both legs — the index
      carries no postings, and minhash signatures are deterministic,
      so these pairs are EXACTLY the new-doc-involving subset of
      :func:`minhash_lsh_pairs` run over the full corpus
      (invariant test-pinned).
    - ``updated_sigs`` = index ∪ batch signatures — write it back and
      it is tomorrow's index; union is lazy and columnar, so the
      persist/write amortizes into the caller's sink.

    ``max_bucket`` is the same hot-bucket cap as
    :func:`lsh_candidate_pairs`, counted over the COMBINED
    (batch ∪ index) population per (band, bucket), so the subset
    invariant above holds cap-for-cap. Without it, one boilerplate
    cluster in a 100 TB index makes every colliding daily batch pay an
    O(|cluster|·|batch∩bucket|) join (orientation, cap and recall
    contract: :func:`_bucket_pairs`).

    ``new_postings`` (a :func:`hashed_postings` frame for the batch)
    signs the batch from an ALREADY-SHINGLED scan instead of
    re-tokenizing ``new_docs`` — pass it when the caller also
    verifies with true Jaccard, so the whole incremental plan shares
    ONE tokenize; the index must then have been signed from hashed
    postings too (caller contract, same (n, k) rule as above).
    ``new_sigs`` (a :func:`minhash_signatures` frame for the batch,
    same signing mode and (n, k) as the index) takes precedence over
    both and skips the batch signing entirely — the sharing device
    for callers that ALSO persist the batch's signatures (the ingest
    loop's state delta signed the batch twice before r13: once in
    here, once for the committed-docs delta).
    ``estimate=False`` skips the signature-agreement joins and
    returns bare (id1, id2) candidates — the right shape when a
    :func:`true_jaccard_for_pairs` post-verification follows anyway
    (mirroring :func:`minhash_lsh_verified_pairs`, which never
    estimates); ``threshold`` is ignored in that mode.

    Feed ``pairs`` to :func:`connected_components` /
    :func:`component_keepers` (new docs duplicating an index doc
    normally DROP — the index member is the canonical; within-batch
    components pick a keeper as usual)."""
    _check_banding(k, bands, rows_per_band)
    if new_sigs is None:
        new_sigs = (
            minhash_signatures(k=k, postings=new_postings)
            if new_postings is not None
            else minhash_signatures(new_docs, text_col, id_col, n, k)
        )
    # caller-injected signatures are often already an eager checkpoint
    # — _checkpointed_once does not double them
    sigs_new = _checkpointed_once(new_sigs)
    cands = _bucket_pairs(
        _banded(sigs_new, bands, rows_per_band),
        ("band", "bucket"),
        max_bucket,
        index=_banded(index_sigs, bands, rows_per_band),
    )
    all_sigs = index_sigs.unionAll(sigs_new)
    if not estimate:
        return cands, all_sigs
    return _estimated_pairs(cands, sigs_new, all_sigs, k, threshold), all_sigs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
# signed-long bit values; bit 63 is the sign bit
_BIT_VALUES = [(1 << i) if i < 63 else -(1 << 63) for i in range(SIMHASH_BITS)]


def simhash(tokens_col: Column) -> Column:
    """64-bit SimHash: per bit, sum ±1 over token hashes; bit = sign.

    Pure per-row fold (no explode/shuffle): aggregate an array<int> of 64
    counters across tokens, then OR the positive bits together.
    """
    masks = lit_longs(_BIT_VALUES)

    def contrib(t: Column) -> Column:
        # bit test via mask (shift functions need literal shift amounts)
        h = F.xxhash64(t)
        return F.transform(
            masks,
            lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    sums = F.aggregate(
        tokens_col,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, t: F.zip_with(acc, contrib(t), lambda a, b: a + b),
    )
    picked = F.zip_with(
        sums, masks, lambda s, v: F.when(s > 0, v).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(
        picked, F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v)
    )


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, sh64) via explode + 64 conditional-SUM aggregates.

    Same fingerprint as :func:`simhash` (per-occurrence ±1 sums), but the
    whole plan is codegen'd: one xxhash64 per token, 64 compiled CASE
    sums with map-side partial aggregation. The per-row ``simhash``
    expression stays for composition inside other column expressions.
    Pass ``toks`` (a ``token_arrays`` result) to share one tokenize scan.
    """
    if toks is None:
        toks = token_arrays(docs, text_col, id_col)
    hashed = toks.select("id", F.explode("toks").alias("tok")).select(
        "id", F.xxhash64("tok").alias("h")
    )
    sums = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(v).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"_s{i}")
            for i, v in enumerate(_BIT_VALUES)
        ]
    )
    fingerprint = None
    for i, v in enumerate(_BIT_VALUES):
        bit = F.when(F.col(f"_s{i}") > 0, F.lit(v).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return sums.select("id", fingerprint.alias("sh64"))


def simhash_chunks_for(
    n_docs: int, target_bucket: int = 256, min_hamming: int | None = None
) -> int:
    """The corpus-sized ``chunks`` knob for :func:`simhash_candidate_pairs`:
    the LARGEST chunk count whose pieces are still wide enough that the
    expected bucket population ``n / 2^w`` stays ≤ ``target_bucket`` —
    in-bucket candidate volume is quadratic in bucket size (the r7
    sf0.3 measurement: 3.7× wall at 3× corpus with chunks FIXED at 8),
    so piece width must grow ~log n. The price is the guarantee radius
    (``chunks − 1``): pass ``min_hamming`` to floor the radius you
    need — if the corpus is too large to honor it with cold buckets,
    that radius wins and ``max_bucket`` (the operator's cap) becomes
    the volume bound instead. Always ≥ 2 chunks (radius ≥ 1)."""
    import math

    if n_docs <= target_bucket:
        w = 1
    else:
        w = max(1, math.ceil(math.log2(n_docs / target_bucket)))
    chunks = max(2, SIMHASH_BITS // w)
    if min_hamming is not None:
        chunks = max(chunks, min_hamming + 1)
    return min(chunks, SIMHASH_BITS)


def _simhash_pieces(fingerprints: DataFrame, chunks: int) -> DataFrame:
    """(id, sh64, chunk, val): each 64-bit fingerprint exploded to its
    pigeonhole chunk values — the shared bit-slicing of the self-join
    and incremental paths (bits distribute as evenly as possible when
    64 doesn't divide by ``chunks``)."""
    base, extra = divmod(SIMHASH_BITS, chunks)
    widths = [base + (1 if j < extra else 0) for j in range(chunks)]
    offsets = [sum(widths[:j]) for j in range(chunks)]
    return fingerprints.select(
        "id",
        "sh64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        F.shiftrightunsigned(F.col("sh64"), offsets[j])
                        .bitwiseAND(F.lit((1 << widths[j]) - 1))
                        .alias("val"),
                    )
                    for j in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sh64", "c.chunk", "c.val")


def _piece_variants(chunks: int) -> Column:
    """A piece value plus every single-bit flip WITHIN its piece width
    (widths vary when 64 doesn't divide by ``chunks``) — the
    ``piece_radius=1`` expansion of a :func:`_simhash_pieces` row. An
    equi-join of the expanded side against exact pieces catches pairs
    whose piece differs by ≤ 1 bit; variants are distinct, so a
    matching chunk contributes each ordered pair exactly once."""
    base, extra = divmod(SIMHASH_BITS, chunks)
    return F.expr(
        f"concat(array(val), transform(sequence(0, {base} - 1 + "
        f"(CASE WHEN chunk < {extra} THEN 1 ELSE 0 END)), "
        "i -> val ^ shiftleft(CAST(1 AS BIGINT), i)))"
    )


def _pigeonhole_pairs(
    pieces: DataFrame,
    chunks: int,
    max_hamming: int,
    max_bucket: int | None,
    piece_radius: int,
    index: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2, hamming ≤ max_hamming): the (chunk, val) bucket join
    of :func:`_simhash_pieces` frames (:func:`_bucket_pairs`, carrying
    the fingerprints), screened by bit_count(xor). The hamming filter
    runs BEFORE the distinct: the xor+popcount is one codegen'd
    instruction per joined row, so filtering first can only shrink the
    distinct's exchange. On corpora where bucket collisions are mostly
    far pairs (random text) this cuts the distinct input by orders of
    magnitude; on the templated testdata corpus (r7 profile: 6.7M joined
    rows, most already within radius) it measures neutral — never
    worse. (A bare-id join + post-distinct fingerprint re-join was
    A/B'd for the expanded join and LOST — 19.4 vs 14.7 s entry m3:
    the payload trim saves less than the unfiltered distinct + two
    extra joins cost.)"""
    if piece_radius not in (0, 1):
        raise ValueError(
            f"piece_radius must be 0 or 1, got {piece_radius} (wider "
            "per-piece radii grow the variant expansion quadratically; "
            "lower `chunks` instead — the guarantee is "
            "chunks·(piece_radius+1) − 1)"
        )
    pairs = _bucket_pairs(
        pieces,
        ("chunk", "val"),
        max_bucket,
        index=index,
        carry="sh64",
        expand=_piece_variants(chunks) if piece_radius == 1 else None,
    )
    return (
        pairs.select(
            "id1",
            "id2",
            F.bit_count(F.col("sh64_1").bitwiseXOR(F.col("sh64_2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_candidate_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int | None = 10_000,
    piece_radius: int = 0,
    pieces: DataFrame | None = None,
) -> DataFrame:
    """Hamming-≤-k candidates by pigeonhole: split 64 bits into ``chunks``
    pieces; any pair within hamming ≤ chunks-1 shares ≥1 exact chunk.
    Join per (chunk_idx, chunk_value), verify with bit_count(xor).
    Returns (id1, id2, hamming).

    ``piece_radius=1`` (r12) extends the guarantee to hamming ≤
    ``2·chunks − 1`` at the SAME piece layout — the multi-index
    scheme: a pair with ≤ 2·chunks−1 flips has some piece with ≤ 1
    flipped bit (pigeonhole), so one join side expands each piece to
    its ``width+1`` single-bit-flip variants (identity included) and
    the equi-join catches within-piece distance ≤ 1. This beats
    narrowing the pieces for the same radius by the bucket-heat term:
    radius 15 as 16 exact 4-bit pieces costs ~n² in-bucket volume,
    as 8 expanded 8-bit pieces ~(8+1)·8·n²/2⁸ ≈ 0.28·n² (measured
    35.7 s vs 7-8 s on the sf0.1 corpus). Generally the guarantee is
    ``chunks·(piece_radius+1) − 1``; only radii 0 and 1 are
    implemented (2-bit expansion grows variants quadratically for a
    marginal volume win).

    Bits distribute as evenly as possible (64 need not divide by
    ``chunks``), so e.g. chunks=6 gives 11/11/11/11/10/10-bit pieces —
    wider pieces mean colder buckets (fewer spurious candidates) at the
    cost of a lower guaranteed hamming radius (chunks-1).

    Scale guard (the max_df analog for fingerprint space): with w-bit
    chunks there are only chunks·2^w join keys, so a corpus of n docs
    drives ~n²/2^w in-bucket candidate volume as n grows — quadratic,
    plus shuffle skew on whatever chunk values the corpus's token
    distribution makes common. ``max_bucket`` drops any (chunk, value)
    bucket holding more docs than the cap before the self-join, bounding
    candidate volume at chunks·Σ min(bucket, cap)² and the join at
    linear-in-n work — the hot-bucket cap and recall contract of
    :func:`_bucket_pairs` (a dropped bucket loses only pairs whose
    ONLY shared chunk is that hot one). Set ``max_bucket=None`` to
    recover the unconditional pigeonhole guarantee on small corpora."""
    if pieces is None:
        pieces = _simhash_pieces(fingerprints, chunks)
    # ^ callers that already sliced the fingerprints (the verified-pairs
    # wrapper slices once for its volume estimator) pass ``pieces`` — a
    # checkpointed, UNCAPPED ``_simhash_pieces(fingerprints, chunks)``
    # frame — so the fingerprint aggregation + chunk explode runs once
    # per plan, not once per consumer (r13). Materializing chunks·N
    # compact int rows once (the df-cap bucket count and both self-join
    # sides read them) is the same trade hashed_postings makes (r9,
    # A/B'd: entry m3 4.93 → 3.27 s, results identical).
    return _pigeonhole_pairs(pieces, chunks, max_hamming, max_bucket, piece_radius)


def simhash_incremental_pairs(
    new_fps: DataFrame,
    index_fps: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int | None = 10_000,
    piece_radius: int = 0,
) -> DataFrame:
    """Hamming-≤-k pairs of a NEW batch of 64-bit fingerprints against
    a PERSISTED fingerprint index — the pigeonhole family's
    daily-ingest twin (completing incremental symmetry across the
    dedup families: exact = :func:`dedup_exact_incremental`, MinHash =
    :func:`minhash_lsh_incremental`, and this for every 64-bit
    fingerprint space: :func:`simhash_fingerprints` for text,
    ``multimodal.phash64`` for images, the audio band signature —
    all share it). Both inputs are (id, sh64) frames; the index
    carries 16 bytes/doc and the batch's fingerprints are the only
    new computation, so cost scales with |batch| + chunk-colliding
    index rows, never the corpus.

    Returns (id1, id2, hamming) with id1 = new doc, id2 = index OR
    new (within-batch pairs oriented id1 < id2) — EXACTLY the
    new-doc-involving subset of :func:`simhash_candidate_pairs` over
    the union (same pigeonhole guarantee: any pair within hamming ≤
    chunks-1 shares an exact chunk; same ``max_bucket`` hot-bucket
    cap, counted over batch ∪ index so the subset invariant holds
    cap-for-cap; id namespaces must not collide — caller contract;
    orientation and cap: :func:`_bucket_pairs`).

    ``piece_radius=1`` (r12): the same multi-index extension as
    :func:`simhash_candidate_pairs` — the BATCH side (the small frame)
    expands each piece to its single-bit-flip variants, so the
    guarantee widens to hamming ≤ ``2·chunks − 1`` while the index
    pieces stay untouched; the ≡-full-run-subset invariant holds
    radius-for-radius because within-piece distance ≤ 1 is symmetric
    (the variant match fires regardless of which side expanded)."""
    return _pigeonhole_pairs(
        _simhash_pieces(new_fps, chunks),
        chunks,
        max_hamming,
        max_bucket,
        piece_radius,
        index=_simhash_pieces(index_fps, chunks),
    )


def _components_local(spark, id_type, rows) -> DataFrame | None:
    """Exact driver-side union-find over a SMALL collected edge list —
    labels identical to the distributed loop's fixpoint (union-by-min
    keeps every root the minimum id of its tree, so the final find is
    the component minimum, which is precisely the loop's invariant).
    Returns None when an endpoint is null (the distributed path's
    null-join semantics are not worth reproducing here — fall back)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}
    nodes = set()

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while x != r:
            parent[x], x = r, parent.get(x, x)
        return r

    for row in rows:
        a, b = row[0], row[1]
        if a is None or b is None:
            return None
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    schema = StructType(
        [StructField("id", id_type), StructField("comp", id_type)]
    )
    import pandas as pd

    labels = [(x, find(x)) for x in nodes]
    try:
        # TWO measured pitfalls shape this return (100-doc ingest-day
        # A/B, SCALE.md r16): createDataFrame(list) builds a
        # parallelized PYTHON RDD whose scan re-launches Python
        # workers in every consuming job (+~2.5 s/day); the pandas
        # form lands as a JVM LocalRelation under the Arrow
        # local-relation threshold — but an in-plan LocalRelation
        # EMBEDS in every downstream consumer's plan and made their
        # analysis/execution slower than the loop it replaced
        # (+~3 s/day). The eager checkpoint converts it to the same
        # kind of truncated RDD scan the distributed loop returns —
        # one trivial LocalTableScan job — and downstream plans are
        # byte-for-byte the shape they had before the fast path.
        return spark.createDataFrame(
            pd.DataFrame(labels, columns=["id", "comp"]), schema
        ).localCheckpoint(eager=True)
    except Exception:
        # exotic id types the Arrow bridge can't carry — let the
        # caller take the distributed path
        return None


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 25,
    jump_start: int = 2,
    small_collect: int | None = 100_000,
    n_pairs: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list — the KEEP/DROP
    step of corpus dedup: every document in a component is a duplicate
    of the component's minimum id (the canonical keeper).

    Min-label propagation with DEFERRED POINTER JUMPING
    (Shiloach–Vishkin style): every round a node adopts the smallest
    label among itself and its neighbors; from round ``jump_start``
    onward the adopted label is additionally jumped through the
    previous round's table (``comp ← comp(comp)``), so the distance a
    label has travelled roughly DOUBLES per round — O(log n) rounds on
    any graph, vs O(component diameter) for plain propagation. The
    hybrid exists because the two regimes have different costs: tight
    near-dup clusters (diameter ≤ a few — the common case) converge
    inside the plain prefix at ONE key-partitioned join per round,
    while CHAIN-shaped components (templated pages where each adjacent
    revision is similar but the ends aren't — routine in web crawls)
    engage the jump and finish in ~log2(c) rounds instead of c. An
    interleaved same-session A/B on the driver corpus
    (tools/ab_cc_r10.py's first run: always-jump m3 0.911 s vs plain
    0.742 s, bit-identical labels; the final A/B/C table lives in
    SCALE.md) showed the unconditional jump join taxes exactly the
    workloads that don't need it, hence the deferred default.
    This is a driver-side loop of DataFrame jobs (the documented
    exception for iterative algorithms): each round is one
    key-partitioned join + one aggregate (plus the jump join once
    engaged), labels are eagerly checkpointed so round N+1's plan
    doesn't re-derive rounds 1..N. The convergence test is folded into
    the checkpoint job ITSELF (a ``chg`` flag summed as a
    ``df.observe`` metric, collected when the eager checkpoint's job
    completes) — zero extra jobs per round. Labels only ever decrease, and the jump target is itself a
    node's label, so the fixpoint is identical to plain propagation:
    every node carries its component's minimum id. Returns
    (id, component).

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds: partially-propagated labels are WRONG KEEP/DROP
    decisions (two docs of one component would be kept as distinct
    canonicals), and silently returning them would poison the dedup
    downstream. With jumping the default covers components of diameter
    ~2^23 — effectively any real graph; the fuse remains for safety.
    ``jump_start=0`` jumps from the first round; a huge ``jump_start``
    degrades to plain propagation.

    SMALL-RELATION FAST PATH (r16, the streaming gate's planning-floor
    cut): when the caller KNOWS the edge count (``n_pairs``) and it
    fits ``small_collect`` rows, components are computed by an exact
    driver-side union-find over ONE bounded collect instead of the
    iterative job loop — identical labels (union-by-min ≡ the loop's
    min-label fixpoint, differential-pinned), returned as a
    checkpointed local relation so downstream plans keep the loop
    output's exact shape. The per-round fixed cost (checkpoint job +
    plan analysis, ~2-6 driver jobs even for a 2-round graph)
    collapses to one collect + one trivial checkpoint. Engagement
    requires ``n_pairs`` deliberately: probing the size here would
    cost the count job the fast path exists to avoid (measured: a
    probing variant was a wash at micro-batch scale), and the callers
    that live in the small regime — the incremental merge's broadcast
    fuse, the ingest funnel's observed pairs checkpoint — already
    hold the count for free. The driver transfer is hard-bounded:
    ``n_pairs ≤ small_collect`` rows of two ids (~a few MB at the
    default) — never corpus-scale. ``small_collect=None`` disables
    the fast path entirely; unknown sizes take the distributed loop
    unchanged."""
    spark = pairs.sparkSession
    edges = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    if (
        small_collect is not None
        and n_pairs is not None
        and n_pairs <= small_collect
        # mixed endpoint types would take the union's coercion in the
        # distributed path — keep that behavior there
        and edges.schema["a"].dataType == edges.schema["b"].dataType
    ):
        id_type = edges.schema["a"].dataType
        # limit belt: an inaccurate caller-supplied n_pairs must not
        # become an unbounded driver transfer — cap the collect and
        # fall back to the loop if more rows than promised show up
        rows = edges.limit(small_collect + 1).collect()
        if len(rows) <= small_collect:
            local = _components_local(spark, id_type, rows)
            if local is not None:
                return local
    und = (
        edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    changed = 0
    for rnd in range(max_iter):
        nbr = (
            und.join(
                labels.withColumnsRenamed({"id": "b", "comp": "nc"}), "b"
            )
            .groupBy("a")
            .agg(F.min("nc").alias("nbr_min"))
            .withColumnRenamed("a", "id")
        )
        hooked = F.least(
            F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
        )
        if rnd >= jump_start:
            # Pointer jump: replace the hooked label with ITS label from
            # the previous round. Labels are always node ids (each is
            # some node's id, minimised over), so the jump table is just
            # the current label frame re-keyed — comp(x) ≤ x keeps the
            # result monotone and inside the component.
            jump = labels.select(
                F.col("id").alias("jid"), F.col("comp").alias("jcomp")
            )
            new_comp = F.coalesce(F.col("jcomp"), F.col("hooked"))
            stepped = (
                labels.join(nbr, "id", "left")
                .withColumn("hooked", hooked)
                .join(jump, F.col("hooked") == F.col("jid"), "left")
            )
        else:
            new_comp = hooked
            stepped = labels.join(nbr, "id", "left")
        # The convergence sum rides the checkpoint's OWN job as an
        # observed metric (r15: eager localCheckpoint fires df.observe)
        # — zero extra jobs per round where the r14 form paid a
        # separate scan-and-collect per round.
        chg_obs = Observation()
        new_labels = (
            stepped.select(
                "id",
                new_comp.alias("new_comp"),
                (new_comp != F.col("comp")).cast("long").alias("chg"),
            )
            .withColumnRenamed("new_comp", "comp")
            .observe(chg_obs, F.sum("chg").alias("chg"))
            .localCheckpoint(eager=True)
        )
        changed = chg_obs.get["chg"] or 0
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); returning partial labels "
            "would yield wrong KEEP/DROP decisions — raise max_iter"
        )
    return labels


def connected_components_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 25,
    jump_start: int = 2,
    max_batch_pairs: int | None = 1_000_000,
) -> DataFrame:
    """Merge a NEW batch of near-dup pairs into a PERSISTED component
    labeling — the daily-ingest mode for the KEEP/DROP step,
    completing the incremental story end to end: the candidate
    generators already have batch-vs-index modes
    (:func:`minhash_lsh_incremental` etc. produce exactly the pair
    lists this consumes), but components were still recomputed from
    ALL pairs ever seen. Re-walking 100 TB of history to absorb a
    day's edges is the same infeasibility the other incremental
    gates exist to avoid.

    ``labels`` is a prior :func:`connected_components` (or this
    function's) result — (id, comp) with comp = the component's min
    member id; documents absent from it are singletons labeled by
    their own id (the same convention ``split_by_component``
    documents). Returns the UPDATED full labels frame, exactly equal
    to ``connected_components(history_pairs ∪ new_pairs)``
    (test-pinned, randomized differential): the star edges implied by
    ``labels`` preserve history's connectivity, and since every label
    is the min id of its members, min-label propagation over the
    CONTRACTED graph (each endpoint replaced by its existing label)
    yields the true merged minimum — including when a NEW id is
    smaller than an old component's label.

    Plan — the persisted frame is never shuffled:

    1. the batch's distinct endpoint ids are BROADCAST against
       ``labels`` (inner BHJ — one map-side scan of the labels frame,
       the incremental family's index-probe shape);
    2. components touched by no new edge are finished already; the
       contracted edge list (batch-bounded) runs the normal
       :func:`connected_components` loop at batch size;
    3. the resulting root→new-label map (only CHANGED roots — a
       re-fed duplicate batch contracts to self-loops and the map is
       empty, so re-feeds are no-ops) is broadcast against ``labels``
       for the relabel: a second map-side scan, zero exchanges;
       endpoints new to the frame are unioned in with their merged
       labels.

    ``max_batch_pairs`` fuses the broadcast terms (endpoint map +
    relabel map are batch-bounded, not corpus-bounded — that is the
    contract): a "batch" of 10⁹ pairs would silently become a
    multi-GB broadcast, so past the fuse this raises — chunk the
    batch, or fall back to a full :func:`connected_components` run.
    Pass ``None`` to disable.

    Compositions: downstream keeper selection only needs recomputing
    for components touched by the batch —
    :func:`component_keepers_incremental` implements exactly that
    (filter the updated frame to the touched components, re-pick
    keepers there, union the untouched prior keepers).
    Streaming ingest composes via ``foreachBatch``: CC is iterative
    (no single-pass stateful-operator form exists), so the per-micro-
    batch merge against the persisted labels IS the streaming mode,
    exactly as the other incremental families' gates are their
    stream-static twins."""
    edges = new_pairs.select(
        F.col(id1).alias("a"), F.col(id2).alias("b")
    ).localCheckpoint(eager=False)
    # ^ new_pairs is typically an expensive banded-join pipeline
    # (minhash_lsh_incremental's output); it feeds the fuse count, the
    # endpoint set, AND the contracted edge list — without the
    # checkpoint the whole candidate pipeline would re-run ~3x
    n_edges = None
    if max_batch_pairs is not None:
        n_edges = edges.limit(max_batch_pairs + 1).count()
        if n_edges > max_batch_pairs:
            raise ValueError(
                f"new_pairs exceeds max_batch_pairs={max_batch_pairs}: the "
                "incremental merge broadcasts batch-bounded maps; chunk the "
                "batch or run connected_components over the full pair set"
            )
    ep = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)  # consumed by probe + anti + edges
    )
    # 1. index probe: stream the labels frame once, build on the batch
    labeled = (
        labels.join(F.broadcast(ep), "id", "inner")
        .select("id", F.col("comp").alias("root"))
        .localCheckpoint(eager=False)
    )
    unlabeled = ep.join(
        F.broadcast(labeled.select("id")), "id", "left_anti"
    ).select("id", F.col("id").alias("root"))
    ep_roots = labeled.unionByName(unlabeled).localCheckpoint(eager=False)

    # 2. contract endpoints to their roots; CC at batch size
    contracted = (
        edges.join(
            F.broadcast(ep_roots.withColumnsRenamed({"id": "a", "root": "ra"})),
            "a",
        )
        .join(
            F.broadcast(ep_roots.withColumnsRenamed({"id": "b", "root": "rb"})),
            "b",
        )
        .select(F.col("ra").alias("id1"), F.col("rb").alias("id2"))
    )
    # contraction is 1:1 on endpoints, so |contracted| == |edges| —
    # the fuse count doubles as the fast-path probe (n_pairs), saving
    # the inner CC its own count job
    small = connected_components(
        contracted,
        max_iter=max_iter,
        jump_start=jump_start,
        n_pairs=n_edges,
    )

    # 3. broadcast relabel of the persisted frame (changed roots only)
    relabel = small.filter(F.col("comp") != F.col("id")).withColumnsRenamed(
        {"id": "_root", "comp": "_new"}
    )
    updated_hist = labels.join(
        F.broadcast(relabel), labels["comp"] == F.col("_root"), "left"
    ).select(
        labels["id"], F.coalesce(F.col("_new"), labels["comp"]).alias("comp")
    )
    new_rows = unlabeled.join(
        F.broadcast(relabel), F.col("root") == F.col("_root"), "left"
    ).select("id", F.coalesce(F.col("_new"), F.col("root")).alias("comp"))
    return updated_hist.unionByName(new_rows)


_SIMHASH_RADIUS_FLOOR = 15
# screenless-dense crossover: when the estimated in-bucket collision
# volume Σ C(m,2) (a LOWER bound on the candidate join's output)
# exceeds this many pairs per document, the pigeonhole screen is
# generating — not pruning — work, and simhash_verified_pairs skips it
# for the exact inverted-index plan. Calibrated r13 on the sf0.1
# templated corpus (est ≫ 32·n fires it; entry m3 15.6 → 4.3 s,
# hash-identical at all three sf) and on spread fingerprints
# (chunks=4: est ≈ 4·n²/2¹⁶ stays below until n ~ half a million
# docs, by which point the screen genuinely prunes).
_SIMHASH_DENSE_FACTOR = 32


def simhash_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int | None = None,
    chunks: int | None = None,
    threshold: float = 0.5,
    toks: DataFrame | None = None,
    max_bucket: int | None = 10_000,
    n_docs: int | None = None,
    piece_radius: int | None = None,
) -> DataFrame:
    """SimHash candidates post-verified by TRUE Jaccard — same plan
    shape as :func:`minhash_lsh_verified_pairs` with a cheaper candidate
    generator: one 64-bit fingerprint per doc instead of k=128
    min-hashes.

    DERIVED DEFAULTS (r12): ``chunks=None`` sizes the pigeonhole from
    the corpus via :func:`simhash_chunks_for` — piece width grows
    ~log n so buckets stay cold as the corpus grows (the r7 sf0.3
    measurement's fix). When the cold layout's exact-piece radius
    (``chunks − 1``) falls below ``_SIMHASH_RADIUS_FLOOR`` (15), the
    plan switches to ``piece_radius=1`` (single-bit piece expansion,
    :func:`simhash_candidate_pairs`) with ``ceil((floor+1)/2)`` pieces
    — radius ``2·chunks − 1`` at a fraction of the narrow-piece
    volume (measured: radius-15 as 16 exact 4-bit pieces ran 35.7 s
    on the sf0.1 corpus; as 8 expanded 8-bit pieces ~7 s). Past the
    corpus size where even expanded pieces can't reach the floor with
    cold buckets (~10⁵ docs per 2⁸ bucket), the radius degrades to
    ``2·chunks − 1`` of the cold layout — the honest scale trade; the
    cap bounds volume there. ``max_hamming=None`` pins the screen to
    the derived layout's full guarantee radius. Both knobs accept
    explicit values (the hamming screen is candidate PRUNING, not
    semantics — the contract is jaccard ≥ threshold after
    verification, so a wider screen only adds verify work, never
    wrong pairs). The r11 default (fixed chunks=8, hamming ≤ 7) was
    tuned at the gate scale and measured 241/256 at sf0.1 — the 15
    missed pairs sit at hamming 8-12, above the old SCREEN, not lost
    to bucket caps (r12 measurement); the derived layout (exact
    radius 63 at n=500, expanded radius 15 at n=5000) recalls
    256/256 at every sf.

    RECALL CONTRACT (measured, not assumed): a 64-bit SimHash is a
    HIGH-similarity tool — even set-jaccard ≥ 0.8 pairs can land at
    hamming ~10-12 when token multiplicities differ (cos θ ≈ 2j/(1+j);
    at j = 0.8, E[hamming] ≈ 64·θ/π ≈ 10), and at j = 0.5 the
    expectation is ~17 — ABOVE the floor radius, so a pair at exactly
    the default threshold can still be missed. Where exactness at
    moderate thresholds matters, use
    :func:`minhash_lsh_verified_pairs` (its S-curve is a direct
    function of jaccard, miss probability ≤ 5e-8 at j ≥ 0.8); SimHash
    earns its keep as the cheapest near-exact-duplicate screen. At
    true corpus scale the radius floor costs in-bucket volume
    (n²/2^w with w pinned at 4 bits) and ``max_bucket`` becomes the
    bound — the cap's weakest-candidates-first recall contract
    (:func:`simhash_candidate_pairs`) is then the operative one.

    ``n_docs`` skips the sizing ``count()`` when the caller already
    holds the corpus size. ``piece_radius`` (r13, threaded to
    :func:`simhash_candidate_pairs`) pins the per-piece expansion when
    ``chunks`` is explicit — an explicit (chunks, piece_radius) pair
    accepts best-effort recall at radius ``chunks·(piece_radius+1)−1``
    (the remedy the r12 guarantee error named but did not expose —
    advisor finding). The fingerprint and shingle-posting scans
    share ONE tokenize pass (``token_arrays``, locally checkpointed as
    one array row per doc): normalize + regex-split is the dominant
    per-row cost and both consumers need the same tokens. An
    externally supplied ``toks`` (already checkpointed) extends that
    sharing across dedup families. Returns (id1, id2, jaccard).

    PLAN CHOICE (r13): before generating candidates at all, the
    expected in-bucket collision volume ``Σ_buckets C(m,2)`` is read
    off the (capped) piece-bucket populations — one tiny aggregation
    over the already-checkpointed pieces frame, no join. When it
    exceeds ``_SIMHASH_DENSE_FACTOR · n_docs`` the corpus is
    template-compressed: the pigeonhole screen would admit candidates
    ≫ corpus (r12 measured 3.19M pairs for 5k docs at radius 15,
    0.008% precision) and the candidate JOIN itself — not
    verification — dominates (r12 verdict: generation ~27 s of the
    ~26 s composite, dense verify ~5.5 s). In that regime the screen
    buys nothing: the plan skips it and computes the EXACT
    inverted-index Jaccard over the corpus postings (the
    :func:`jaccard_pairs` dense intersection, uncapped), then applies
    the hamming screen as a post-filter on the verified pairs' two
    fingerprints — bit-identical semantics where bucket caps don't
    fire (the candidate set at ``max_hamming`` = guarantee radius IS
    {pairs: hamming ≤ radius} by pigeonhole), and strictly-better
    recall where they would (capped hot buckets lose weakest
    candidates; the screenless plan keeps every verified pair within
    the radius). Scale contract: the dense plan pays O(Σ df²) — the
    honest price of exactness on a template-compressed corpus, and
    the SAME term the r12 candidate-restricted dense verifier already
    paid (in the fire regime the candidate-doc set ≈ the corpus);
    compose exact-dedup-first (the standing family contract) so df
    stays bounded. Cold corpora never fire it: a spread fingerprint
    space keeps Σ C(m,2) ≈ chunks·n²/2^w ≪ factor·n."""
    if chunks is None:
        if n_docs is None:
            n_docs = docs.count()
        chunks = simhash_chunks_for(n_docs)
        piece_radius = 0
        target = _SIMHASH_RADIUS_FLOOR if max_hamming is None else max_hamming
        if chunks - 1 < target:
            # the cold layout's exact radius misses the target: switch
            # to single-bit piece expansion — same-or-wider pieces
            # (colder buckets), radius 2·chunks − 1
            piece_radius = 1
            chunks = max(2, min(chunks, (target + 2) // 2))
        if max_hamming is not None and chunks * (piece_radius + 1) - 1 < max_hamming:
            # the DEFAULT floor degrades silently at huge corpora (the
            # documented trade), but an EXPLICIT max_hamming is a
            # caller requirement — screening below it without a
            # guarantee must be a loud choice, not a silent one
            # (review finding)
            raise ValueError(
                f"requested max_hamming={max_hamming} exceeds the "
                f"guarantee radius {chunks * (piece_radius + 1) - 1} of "
                f"the corpus-derived layout ({chunks} chunks, "
                f"piece_radius={piece_radius}) — pass chunks AND "
                "piece_radius explicitly to accept best-effort recall "
                "at radius chunks·(piece_radius+1)−1, or "
                "max_hamming=None for the derived floor"
            )
    elif piece_radius is None:
        piece_radius = 0
    if max_hamming is None:
        max_hamming = chunks * (piece_radius + 1) - 1
    if toks is None:
        toks = token_arrays(docs, text_col, id_col).localCheckpoint(eager=False)
    fps = simhash_fingerprints(docs, text_col, id_col, toks=toks)
    postings = hashed_postings(docs, text_col, id_col, n, toks=toks)

    # volume estimator: Σ C(m,2) over the cap-surviving piece buckets —
    # a lower bound on the candidate join's output rows (exact-value
    # collisions only; piece expansion only adds more), and the term
    # that actually predicted r12's cost. One aggregation over the
    # checkpointed pieces frame.
    pieces = _simhash_pieces(fps, chunks).localCheckpoint(eager=False)
    est = (
        _capped(pieces, ["chunk", "val"], max_bucket)
        .groupBy("chunk", "val")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("v"))
        .collect()[0]["v"]
        or 0
    )
    if n_docs is None:
        n_docs = docs.count()

    if est > _SIMHASH_DENSE_FACTOR * n_docs:
        # template-compressed regime: screenless exact verification +
        # hamming post-filter (see PLAN CHOICE above). hashed_postings
        # already returns a checkpointed frame — _checkpointed_once
        # avoids storing a second copy of the corpus postings
        jac = _postings_jaccard(_checkpointed_once(postings), threshold)
        # the hamming screen, applied to the tiny verified relation:
        # two fingerprint lookups (AQE broadcasts the 16-byte/doc fps
        # frame) instead of a 3M-row candidate join
        return (
            jac.join(fps.withColumnsRenamed({"id": "id1", "sh64": "h1"}), "id1")
            .join(fps.withColumnsRenamed({"id": "id2", "sh64": "h2"}), "id2")
            .filter(
                F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= max_hamming
            )
            .select("id1", "id2", "jaccard")
        )

    cands = simhash_candidate_pairs(
        fps, max_hamming, chunks, max_bucket, piece_radius, pieces=pieces
    )
    if piece_radius == 1:
        # mid regime: the screen is selective enough to be worth
        # running, but wide-radius candidates can still outnumber the
        # per-pair verifier's comfort zone — pick the verification
        # plan from the MEASURED candidate count (one cheap job over
        # the checkpointed candidate frame)
        cands = cands.localCheckpoint(eager=False)
        if cands.count() > 4 * n_docs:
            return true_jaccard_for_pairs_dense(cands, postings, threshold)
    return true_jaccard_for_pairs(cands, postings, threshold)


def corpus_canonical_admission(
    pairs: DataFrame,
    batch_ids: DataFrame,
    quality: DataFrame | None = None,
    n_pairs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The admission policy shared by the daily-ingest loop and the
    streaming semantic gate (r13 review finding: two near-verbatim
    copies had already started to drift — the gate's copy hardcoded
    min-id while the loop's took a quality frame): connected
    components over the day's near-dup ``pairs``, INDEX members (ids
    not in ``batch_ids``) scored strictly above every batch member
    (corpus content is canonical — immutability is not a quality
    question), the user's ``quality`` frame (an (id, score) frame;
    scores apply to batch members only) deciding within-batch groups,
    min-id as the unscored fallback. Returns ``(comp, keep)`` — the
    component labels and the :func:`component_keepers` verdicts —
    so callers can both reject batch losers (anti-join
    ``keep.filter(~keep)``) and drive downstream state merges off the
    same ``comp`` frame. ``n_pairs`` (r16): a caller that already
    holds the pair count (the funnel's observed pairs checkpoint)
    passes it through so the CC takes its small-relation fast path."""
    comp = connected_components(pairs, n_pairs=n_pairs)
    index_members = comp.select("id").join(batch_ids, "id", "left_anti")
    scores = index_members.withColumn("score", F.lit(float("inf")))
    if quality is not None:
        scores = scores.unionByName(
            quality.join(batch_ids, "id", "left_semi")
        )
    return comp, component_keepers(comp, scores)


def component_keepers(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    comp_col: str = "comp",
    score_col: str = "score",
    higher_is_better: bool = True,
) -> DataFrame:
    """Quality-aware canonical selection per near-dup component — the
    KEEP policy production curation pipelines layer on top of
    :func:`connected_components`' min-id labels (Dolma/FineWeb keep
    the highest-quality member of a duplicate cluster, not an
    arbitrary one; reference repos' dedup keeps min-id because they
    carry no quality signal).

    ``labels`` is a (id, comp) frame (``connected_components``
    output); ``scores`` maps id → quality (``text.quality_score``,
    a classifier margin, perplexity — any per-doc number; LOWER wins
    when ``higher_is_better=False``, e.g. perplexity). Returns
    (id, comp, keep): ``keep`` is true for exactly ONE member per
    component — the best-scored, ties broken toward the LOWER id so
    the decision is total-ordered and replay-deterministic; a member
    missing from ``scores`` (or scored NULL) can win only if every
    member of its component is unscored (NULL sorts last on both
    polarities), in which case min-id wins outright.

    Plan: one comp-keyed aggregation picks each component's champion
    (``min_by`` over an (unscored, -score, id) struct — no window
    sort, no id arithmetic, so ids may be strings), then one
    comp-keyed equi-join marks members. Both shuffles key on the
    high-cardinality component id; payloads are one struct per row —
    at corpus scale this is two linear exchanges, no per-component
    row blowup. Singleton components keep their only member, so
    ``filter(keep)`` is always a safe dedup projection."""
    polarity = 1.0 if higher_is_better else -1.0
    scored = labels.join(
        scores.select(
            F.col(id_col).alias(id_col), F.col(score_col).alias("_q")
        ),
        id_col,
        "left",
    )
    # NULL-safe orderable key, MINIMIZED so the id lane needs no
    # negation and stays type-agnostic (string/URL doc ids: unary
    # minus on them would raise under ANSI — r11 review finding):
    # scored members always beat unscored ones (no=0 < no=1); among
    # scored, the NEGATED polarity-adjusted score decides; exact ties
    # (and the all-unscored case) fall to the lower id naturally.
    rank_key = F.struct(
        (1 - F.col("_q").isNotNull().cast("int")).alias("no"),
        (-F.coalesce(F.col("_q"), F.lit(0.0)) * F.lit(polarity)).alias("ns"),
        F.col(id_col).alias("i"),
    )
    champs = scored.groupBy(comp_col).agg(
        F.min_by(F.col(id_col), rank_key).alias("_keep_id")
    )
    return (
        labels.join(champs, comp_col)
        .select(
            id_col,
            comp_col,
            (F.col(id_col) == F.col("_keep_id")).alias("keep"),
        )
    )


def component_keepers_incremental(
    updated_labels: DataFrame,
    prior_keepers: DataFrame,
    new_pairs: DataFrame,
    scores: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    id_col: str = "id",
    comp_col: str = "comp",
    score_col: str = "score",
    higher_is_better: bool = True,
    max_batch_pairs: int | None = 1_000_000,
) -> DataFrame:
    """Changed-components-only keeper recompute — the composition
    :func:`connected_components_incremental`'s docstring promises,
    implemented (r11 verdict, Next #3): at 10¹¹ docs, re-picking
    keepers corpus-wide after a daily merge would negate the
    incremental CC win, so only components TOUCHED by the batch are
    re-picked and every other keeper decision is reused verbatim.

    Inputs: ``updated_labels`` is the post-merge labels frame
    (:func:`connected_components_incremental`'s return),
    ``prior_keepers`` the persisted previous :func:`component_keepers`
    (or this function's) result — (id, comp, keep) with comp = the
    PRE-merge labels — ``new_pairs`` the day's pair batch (the same
    frame fed to the CC merge), and ``scores`` the per-doc quality
    frame ``component_keepers`` expects. Returns the full updated
    (id, comp, keep) frame, exactly equal to
    ``component_keepers(updated_labels, scores)`` (randomized
    differential, test-pinned) provided ``scores`` is the same frame
    both calls see.

    A component is touched iff it contains a batch endpoint. Its
    membership can only change through a batch edge, so untouched
    components keep identical members, labels, and champions — reused
    without recomputation. Crucially the touched set collects BOTH
    label generations: the endpoints' comps in ``updated_labels`` (the
    merged labels the re-pick filters on) AND their comps in
    ``prior_keepers`` (a merge can relabel component A to B's smaller
    root, and A's stale keeper rows — keyed by the OLD label — must
    fall to the anti-join, not survive as a duplicate champion).

    Plan — the two corpus-sized persisted frames are never shuffled:
    batch endpoints broadcast-probe ``prior_keepers`` and
    ``updated_labels`` (two map-side scans) to build the touched-root
    set (batch-bounded: ≤ 2 comps per endpoint); touched roots
    broadcast back against both frames for the semi/anti split (two
    more map-side scans, zero exchanges on either persisted frame).
    Only the re-pick itself exchanges: ``scores`` is semi-filtered to
    the touched membership (AQE broadcasts the member-id side while it
    fits, degrading to one id-keyed shuffle join when a huge component
    is touched — membership is component-bounded, not batch-bounded,
    so no broadcast pin would be honest), then
    :func:`component_keepers` runs at touched size. ``max_batch_pairs``
    is the same broadcast fuse as the CC merge and fires for the same
    reason.

    When to use it (measured, tools/scale_keepers_r12.py): the
    incremental arm is SCAN-bounded — near-flat 3.5/3.0/4.1 s across
    2M/6M/20M labels with a fixed 5k-pair batch — while the full
    re-pick is SHUFFLE-bounded (2.0/2.0/5.5 s: two corpus-sized
    exchanges of labels + scores). Fixed probe overheads make the
    full re-pick CHEAPER below the crossover (~10-15M labels on the
    32-thread box); production label frames sit far past it, and the
    gap grows as shuffle-vs-scan from there."""
    edges = new_pairs.select(
        F.col(id1).alias("a"), F.col(id2).alias("b")
    ).localCheckpoint(eager=False)
    if max_batch_pairs is not None:
        n = edges.limit(max_batch_pairs + 1).count()
        if n > max_batch_pairs:
            raise ValueError(
                f"new_pairs exceeds max_batch_pairs={max_batch_pairs}: the "
                "incremental keeper recompute broadcasts batch-bounded "
                "endpoint/root maps; chunk the batch or run "
                "component_keepers over the full labels frame"
            )
    ep = (
        edges.select(F.col("a").alias(id_col))
        .unionAll(edges.select(F.col("b").alias(id_col)))
        .distinct()
        .localCheckpoint(eager=False)  # probes BOTH label generations
    )
    touched = (
        updated_labels.join(F.broadcast(ep), id_col, "inner")
        .select(comp_col)
        .unionByName(
            prior_keepers.join(F.broadcast(ep), id_col, "inner").select(
                comp_col
            )
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumed by semi, anti, and scores
    )
    members = updated_labels.join(F.broadcast(touched), comp_col, "left_semi")
    # AQE picks the join strategy for the scores restriction: member
    # ids broadcast while touched membership is small (the common
    # case), one id-keyed shuffle when a giant component is touched
    touched_scores = scores.join(
        members.select(F.col(id_col).alias("_mid")),
        scores[id_col] == F.col("_mid"),
        "left_semi",
    )
    repicked = component_keepers(
        members, touched_scores, id_col, comp_col, score_col, higher_is_better
    )
    untouched = prior_keepers.join(
        F.broadcast(touched), comp_col, "left_anti"
    ).select(id_col, comp_col, "keep")
    return untouched.unionByName(repicked)
