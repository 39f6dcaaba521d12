"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design
------------
*Signatures are computed with array expressions, not explodes*: the
MinHash signature, SimHash bits, and shingle sets are per-row
`transform`/`aggregate` expressions over a tokens array — map-side
only, zero shuffle, whole-stage codegen. The only shuffles are the
final candidate-pair joins (on band hash / shingle), which is the
theoretical minimum for any dedup.

Cross-engine determinism
------------------------
All hashing uses ``H56(s) = int(md5(s)[:14 hex], 16)`` — 56 bits, fits
a signed int64 — which DuckDB reproduces as
``('0x' || substr(md5(s),1,14))::BIGINT``. MinHash/SimHash therefore
hash-match the DuckDB oracle exactly (no "approximate vs oracle"
slack needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import fan_out
from .text import h56, normalized_text, tokens_col  # noqa: F401 — h56 re-exported


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED
    tokens column.

    Pass a real column (``withColumn("__toks", tokens_col(...))``),
    not the tokenization expression itself: higher-order lambdas are
    interpreted without CSE, so a tokens EXPRESSION embedded here is
    re-evaluated once per produced shingle — O(n²) re-tokenization per
    document. A bound column reference is a row lookup. (Catalyst's
    CollapseProject keeps the two-stage projection because the alias
    is referenced more than once by non-cheap expressions.)"""
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Shingles straight from a text column — compatibility form. The
    embedded tokenization lands inside the transform lambda and is
    re-evaluated per shingle; every engine call site materializes
    tokens and uses ``shingles_of`` instead."""
    return shingles_of(tokens_col(text), n)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = True
) -> DataFrame:
    """Exact dedup by content hash: md5 of (normalized) text, keep the
    lowest id per hash — the canonical 100 TB exact dedup.

    ONE shuffle: rank rows per hash and keep rank 1. The groupBy-min +
    join-back formulation shuffles twice (agg, then the join) and pays
    a join; the window pays a per-partition sort instead — strictly
    fewer exchanges, and the survivor row keeps every column with no
    re-join.

    No ``fan_out`` here: one md5 per row is not compute-heavy, the plan
    is shuffle-bound, and a round-robin repartition would only add an
    exchange (measured ~3× slower on the sf0.1 bench when it was
    mistakenly applied)."""
    text = normalized_text(F.col(text_col)) if normalize else F.col(text_col)
    hashed = df.withColumn("content_hash", F.md5(text))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    max_members: int = 100,
) -> DataFrame:
    """Duplicate-group summary: one row per content hash with exact
    count, the kept id, and up to ``max_members`` member ids — the
    audit view of exact_dedup.

    Scale: ``member_ids`` must be BOUNDED — a pathological hash with
    millions of duplicates (empty docs, boilerplate) would otherwise
    materialize one giant array row. The cap is enforced BEFORE the
    aggregation buffer grows: rows are ranked per hash with row_number
    over the same hash partitioning the groupBy then reuses (Catalyst
    elides the second exchange — one shuffle total), and only ranks
    <= max_members enter the collect_list, so no buffer ever holds more
    than max_members ids. ``n_dups``/``keep_id`` stay exact;
    ``member_ids`` is the max_members smallest ids, sorted."""
    text = normalized_text(F.col(text_col)) if normalize else F.col(text_col)
    hashed = df.withColumn("content_hash", F.md5(text))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(
                F.collect_list(F.when(F.col("__rn") <= max_members, F.col(id_col)))
            ).alias("member_ids"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def perm_constants(num_perm: int) -> list[int]:
    """Deterministic 56-bit XOR constants for the permutation family
    (md5-derived, reproducible in any engine)."""
    import hashlib

    return [
        int(hashlib.md5(f"perm{i}".encode()).hexdigest()[:14], 16)
        for i in range(num_perm)
    ]


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, minhash array<num_perm>) — permutation i is
    min over shingles of (H56(shingle) XOR r_i). XOR with a constant is
    a bijection of the hash space, so each r_i induces a valid MinHash
    permutation — at ONE md5 per shingle instead of num_perm.

    Physical shape: explode shingles → hash → groupBy(id) with num_perm
    ``min`` aggregates. All whole-stage codegen (higher-order array
    lambdas are interpreted per row and benchmark ~6× slower), and the
    min() partial aggregation combines map-side, so the shuffle carries
    only ~num_perm values per (doc, partition) — effectively docs×16
    longs regardless of corpus size."""
    sh = (
        fan_out(df)
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(shingles_of(F.col("__toks"), shingle_n)).alias("__sh"),
        )
    )
    hs = sh.select(id_col, h56(F.col("__sh")).alias("__h"))
    aggs = [
        F.min(F.col("__h").bitwiseXOR(F.lit(r))).alias(f"__mh{i}")
        for i, r in enumerate(perm_constants(num_perm))
    ]
    sig = hs.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"__mh{i}") for i in range(num_perm)]).alias("minhash"),
    )


def _banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_n: int,
    _sig: DataFrame | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash) — the banded-LSH bucket keys over the
    MinHash signature, shared by the pair generator and the
    incremental (batch-vs-index) path. ``_sig`` (private, sweep
    callers): a precomputed ``minhash_signature`` frame — the
    signature is BAND-INDEPENDENT, so a band sweep signs the corpus
    once instead of once per configuration."""
    rows_per_band = num_perm // bands
    sig = (
        _sig
        if _sig is not None
        else minhash_signature(df, text_col, id_col, num_perm, shingle_n)
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice("minhash", b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, F.explode(band_arr).alias("band")).select(
        id_col, "band.band_idx", "band.band_hash"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    _sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over the MinHash
    signature: docs sharing any band hash become a candidate pair.

    Scale: explode to (doc, band) — a constant ×bands blowup — then ONE
    shuffle groups each (band_idx, band_hash) bucket and pairs are
    generated inside the bucket with array expressions (no self-join,
    so the signature pipeline is computed exactly once). LSH buckets
    are small by design; a pathological giant bucket means the corpus
    is near-identical and pairwise output is inherently quadratic.
    """
    banded = _banded(df, text_col, id_col, num_perm, bands, shingle_n, _sig=_sig)
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # within-bucket ordered pairs: for each i, pair ids[i] with every later id
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ids") - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, F.size("ids") - i),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), j.alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact near-dup; also the LSH verify stage)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 16,
) -> DataFrame:
    """Jaccard similarity over word-shingle sets for every pair sharing
    ≥1 (non-stop) shingle; emits pairs with jaccard ≥ threshold.

    Scale: the shingle self-join is the classic inverted-index join —
    one shuffle on the shingle. Hot shingles (stopword n-grams like
    "of the and") are the skew/blowup risk: a shingle in d documents
    produces C(d,2) join pairs, quadratic in d. ``max_shingle_df`` is
    the stop-shingle cap: shingles whose document frequency exceeds it
    are dropped from BOTH the inverted index and the set sizes, so the
    result is the exact Jaccard of the filtered shingle sets (the
    standard stop-shingle-removal semantics). At 100 TB set the cap
    around 1e-4 × corpus size; ``None`` disables.

    Candidate growth is LINEAR in the corpus with the cap on, by
    construction: every kept posting has ≤ cap ids, so candidate
    pairs ≤ C(cap, 2) × kept_shingles, and distinct shingles are
    bounded by total shingle occurrences (≈ total tokens). Audited
    empirically (BENCH_NOTES.md, "ngram_jaccard_pairs candidate-growth
    audit", r9): at 1×/10×/100× of sf0.01 the capped index generated
    13 985 / 135 340 / 1 353 400 candidate pairs — 0.97× exact-linear
    at both scales, with
    observed pairs ≈ 0.86 per kept shingle versus the C(16,2)=120
    worst case. The r8 scale probe's 9.7 runtime ratio at 10× was a
    saturated-32-core linear slope, not pair blowup.

    Physical shape: ONE scan, ONE shuffle, bounded buffers. Rows are
    ranked per shingle (row_number over the same hash partitioning the
    groupBy then reuses — no second exchange), the collect_list admits
    only ranks ≤ cap, and the EXACT document frequency rides along as a
    count aggregate. Shingles with df > cap are dropped afterwards —
    and because the cap equals the drop threshold, a truncated list
    only ever belongs to a shingle that is dropped anyway, so kept
    posting lists are complete and results are bit-identical to
    unbounded collection. A hot stopword shingle's rows spill in the
    window sorter (disk, bounded memory) instead of materializing a
    df-sized array in one aggregation buffer. Pairs are generated
    inside each posting list with array expressions (no two-sided
    self-join), and per-doc set sizes come from re-exploding the
    capped lists; the posting-list frame feeds both consumers via
    localCheckpoint.
    """
    inter, sa, sb = _shingle_inter_sizes(
        df, text_col, id_col, shingle_n, max_shingle_df
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_inter_sizes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_shingle_df: int | None,
):
    """Shared inverted-index stage of the shingle-pair family
    (``ngram_jaccard_pairs``, ``shingle_containment_pairs``): capped
    posting lists (see the jaccard docstring for the exactness and
    linear-growth arguments), pairwise intersection counts generated
    INSIDE each posting list, and per-doc filtered set sizes. Returns
    (inter, sizes_as_a, sizes_as_b)."""
    sh = (
        fan_out(df)
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(shingles_of(F.col("__toks"), shingle_n)).alias("sh"),
        )
    )
    if max_shingle_df is not None:
        w = Window.partitionBy("sh").orderBy(id_col)
        postings = (
            sh.withColumn("__rn", F.row_number().over(w))
            .groupBy("sh")
            .agg(
                F.count(F.lit(1)).alias("__df"),
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__rn") <= max_shingle_df, F.col(id_col))
                    )
                ).alias("ids"),
            )
            .filter(F.col("__df") <= max_shingle_df)
            .select("sh", "ids")
        )
    else:
        postings = sh.groupBy("sh").agg(
            F.array_sort(F.collect_list(id_col)).alias("ids")
        )
    postings = postings.localCheckpoint(eager=False)
    sizes = (
        postings.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # within-posting-list ordered pairs (ids sorted): ids[i] × ids[>i]
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ids") - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, F.size("ids") - i),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), j.alias("id_b")
                ),
            ),
        )
    )
    inter = (
        postings.filter(F.size("ids") > 1)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter, sa, sb


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 16,
) -> DataFrame:
    """ASYMMETRIC shingle containment — |A ∩ B| / |A| and / |B| — for
    every pair sharing a (non-stop) shingle, emitting pairs where the
    LARGER containment clears ``threshold``. Catches what symmetric
    Jaccard misses: a short document quoted inside a much longer one
    scores near-1 containment but near-0 Jaccard — the
    quote/boilerplate-inclusion detector of substring-dedup pipelines
    (Lee et al. 2022 measure exactly this asymmetry).

    Output: (id_a, id_b, containment_a, containment_b) with
    containment_a = inter/|A| (A contained in B), 6-dp rounded.

    Physical shape: identical to ``ngram_jaccard_pairs`` — the shared
    capped inverted-index stage (``_shingle_inter_sizes``; same ONE
    scan, ONE shuffle, provably linear candidate growth), only the
    final scoring differs. Candidate recall inherits the shared-
    shingle requirement: with the stop-shingle cap on, a contained
    doc whose every shingle is corpus-hot is not paired — the same
    documented trade as the jaccard path."""
    inter, sa, sb = _shingle_inter_sizes(
        df, text_col, id_col, shingle_n, max_shingle_df
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment_a", F.round(F.col("inter") / F.col("n_a"), 6))
        .withColumn("containment_b", F.round(F.col("inter") / F.col("n_b"), 6))
        .filter(
            F.greatest("containment_a", "containment_b") >= threshold
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, simhash) — per-bit majority vote over token hashes
    (with multiplicity).

    Physical shape: explode tokens → hash → groupBy(id) with one
    conditional-sum per bit, then assemble the bit pattern. Same
    codegen + map-side-combine rationale as minhash_signature: the
    shuffle carries ``bits`` ints per doc, not the token stream."""
    toks = fan_out(df).select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("__t")
    )
    hs = toks.select(id_col, h56(F.col("__t")).alias("__h"))
    aggs = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    votes = hs.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"__v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return votes.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs whose simhash Hamming distance ≤ max_hamming —
    EXACT result via the pigeonhole equi-join.

    Size ``bits`` for the corpus: expected candidates per segment
    bucket grow as N² / 2^(bits/(max_hamming+1)), so segment width is
    the quadratic-knee dial — the 10× scale probe measured 16-bit
    signatures (≈5-bit segments) blowing up ×23 at 50k docs while
    32-bit (≈11-bit segments) stays linear. At 100 TB use 64.

    Pigeonhole: split the ``bits``-bit hash into ``max_hamming + 1``
    disjoint segments. Two hashes within Hamming distance max_hamming
    differ in ≤ max_hamming bits, so at least one segment is bit-for-bit
    identical. Candidates therefore come from an equi-join on
    (segment_index, segment_value) — a hash-partitioned shuffle, never a
    cartesian — and the exact Hamming filter keeps only true pairs.
    Candidate volume per segment bucket is corpus_size / 2^(bits/(k+1))
    expected; recall is 1.0 by construction (no LSH slack).

    Segment values keep their bit positions (mask, no shift), so
    equality-of-masked-value == equality-of-segment.
    """
    sig = simhash(df, text_col, id_col, bits)
    n_seg = max_hamming + 1
    widths = [bits // n_seg + (1 if i < bits % n_seg else 0) for i in range(n_seg)]
    segs = []
    off = 0
    for i, w in enumerate(widths):
        mask = ((1 << w) - 1) << off
        segs.append(
            F.struct(
                F.lit(i).alias("seg_idx"),
                F.col("simhash").bitwiseAND(F.lit(mask)).alias("seg_val"),
            )
        )
        off += w
    # both self-join sides read the segmented frame; localCheckpoint
    # materializes the signature aggregation once instead of twice
    segged = (
        sig.select(id_col, "simhash", F.explode(F.array(*segs)).alias("s"))
        .select(id_col, "simhash", "s.seg_idx", "s.seg_val")
        .localCheckpoint(eager=False)
    )
    a, b = segged.alias("a"), segged.alias("b")
    # verify BEFORE dedup: the Hamming filter is a map-side expression
    # on the join output and keeps ~P(ham<=k) of candidates, so the
    # dropDuplicates shuffle moves the tiny survivor set, not the full
    # candidate stream (ordering measured 2-3× on the bench corpus)
    return (
        a.join(
            b,
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def passage_dedup(
    df: DataFrame,
    passage_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup — the CCNet/RefinedWeb paragraph-dedup
    stage, adapted to unstructured text: fixed NON-overlapping token
    windows stand in for paragraphs (the corpus has no newline
    structure). Every passage is hashed; a passage whose hash already
    appeared earlier in the corpus — ordered by (doc id, passage
    position) — is dropped, and each document is reassembled from its
    surviving passages in order.

    Output: (id_col, n_passages, n_kept, text_kept), one row per
    non-empty document. A document consisting entirely of
    already-seen passages survives with n_kept = 0 and empty text
    (the caller filters, mirroring the reference pipelines where the
    drop decision is a separate policy step).

    Scale: two shuffles total — one window over the passage hash to
    rank first-occurrences (partition count = corpus passages /
    partition size, no skew because hashes are uniform), one group-by
    to reassemble documents. Passages are bounded (``passage_tokens``)
    so no row inflates; the reassembled text is at most the original.
    Deterministic under any partitioning: ranking orders by
    (id, passage position), reassembly sorts by position in-row."""
    from .quality import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=passage_tokens, overlap=0, id_col=id_col, text_col=text_col
    )
    w = Window.partitionBy("__h").orderBy(id_col, "chunk_id")
    ranked = chunks.withColumn("__h", F.md5("chunk_text")).withColumn(
        "__rn", F.row_number().over(w)
    )
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("chunk_id"), F.col("chunk_text"))
    )
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias("text_kept"),
    )


def dup_span_scrub(
    df: DataFrame,
    span_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-SPAN removal — the suffix-array substring-dedup
    stage of modern pretraining pipelines (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed for Spark: instead of a global suffix array, every
    overlapping ``span_tokens``-gram is hashed with its position; a
    gram whose hash already occurred earlier in the corpus — ordered
    by (doc id, token position) — marks its token range for removal,
    so exactly ONE copy of every duplicated span survives corpus-wide
    (the first), and removal happens at sub-document granularity
    (unlike ``passage_dedup``'s fixed windows, spans at ANY offset are
    caught).

    Output: (id_col, n_tokens, n_removed, n_dup_spans, text_clean),
    one row per input document. ``n_dup_spans`` counts MERGED removed
    intervals (overlapping/adjacent duplicated grams coalesce into one
    span); ``text_clean`` is the document with covered tokens deleted.

    Physical shape: the gram explode is per-row JVM array expressions
    (map-only); the ONLY shuffles are the first-occurrence window on
    the gram hash (uniform md5 keys — no skew beyond genuinely
    mega-duplicated spans, where the within-partition sort is the
    cost and a min_by-aggregate + join rewrite is the remedy) and the
    per-document regroup of removed starts. Coverage/reassembly is
    again per-row array logic: O(n_tokens × removed_starts) per doc,
    bounded because removed starts ≤ n_tokens.

    Determinism: global first-occurrence order is (id, pos) — stable
    under any partitioning; md5 gram hashes match the DuckDB oracle
    exactly.
    """
    k = span_tokens
    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size("__toks"))

    grams = (
        base.filter(F.col("__n") >= k)
        .select(
            id_col,
            F.col("__toks"),
            F.explode(F.sequence(F.lit(0), F.col("__n") - k)).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.md5(F.array_join(F.slice("__toks", F.col("pos") + 1, k), " ")).alias(
                "__h"
            ),
        )
    )
    w = Window.partitionBy("__h").orderBy(id_col, "pos")
    removed = (
        grams.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("__starts"))
    )

    n = F.col("__n")
    cv = F.col("__cv")
    covered = base.join(removed, id_col, "left").select(
        id_col,
        "__toks",
        "__n",
        F.transform(
            F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda i: F.exists(
                F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
                lambda s: (i - 1 >= s) & (i - 1 < s + k),
            ),
        ).alias("__cv"),
    )
    idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>"))
    return covered.select(
        id_col,
        n.alias("n_tokens"),
        F.size(F.filter(cv, lambda c: c)).cast("long").alias("n_removed"),
        F.size(
            F.filter(
                idx,
                lambda i: F.element_at(cv, i)
                & ((i == 1) | ~F.coalesce(F.element_at(cv, i - 1), F.lit(False))),
            )
        )
        .cast("long")
        .alias("n_dup_spans"),
        F.array_join(
            F.transform(
                F.filter(idx, lambda i: ~F.element_at(cv, i)),
                lambda i: F.element_at(F.col("__toks"), i),
            ),
            " ",
        ).alias("text_clean"),
    )


def incremental_dedup(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental (cross-snapshot) dedup — the nightly-crawl stage of
    a training-data pipeline: vet a NEW batch of documents against an
    EXISTING indexed corpus without re-deduping the corpus itself.
    Every batch doc gets a verdict, first match wins:

    - ``exact_index``: normalized content hash already in the index,
    - ``exact_batch``: an earlier batch doc (smaller id) has the same
      content hash — within-batch exact keep-first,
    - ``near_index``: shares at least one MinHash LSH band bucket with
      an index doc (banded candidate semantics, same signature
      contract as ``minhash_lsh_pairs``),
    - ``kept``: admit to the corpus.

    Within-batch NEAR-dup is deliberately out of scope (run the full
    pair pipeline over admitted docs for that); this operator's
    contract is batch-vs-index.

    Output: (id_col, verdict), one row per batch document.

    Scale: everything is hash-equi semi-join shaped — no pair
    generation at all, so no quadratic blowup even for mega-buckets:
    the index side reduces to DISTINCT content hashes and DISTINCT
    (band_idx, band_hash) bucket keys (both partial-aggregated
    map-side), and the batch probes them with left-semi joins that AQE
    can broadcast when the daily batch is small relative to the index.
    The within-batch window shuffles only the batch.
    """
    bh = F.md5(normalized_text(F.col(text_col)))

    index_hashes = index_df.select(bh.alias("__bh")).distinct().withColumn(
        "__in_index", F.lit(True)
    )
    batch_h = batch_df.select(F.col(id_col), F.col(text_col), bh.alias("__bh"))
    w = Window.partitionBy("__bh").orderBy(id_col)
    flagged = (
        batch_h.withColumn("__rn", F.row_number().over(w))
        .join(index_hashes, "__bh", "left")
    )

    index_buckets = _banded(
        index_df, text_col, id_col, num_perm, bands, shingle_n
    ).select("band_idx", "band_hash").distinct()
    near_ids = (
        _banded(batch_df, text_col, id_col, num_perm, bands, shingle_n)
        .join(index_buckets, ["band_idx", "band_hash"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )

    return flagged.join(near_ids, id_col, "left").select(
        id_col,
        F.when(F.col("__in_index"), F.lit("exact_index"))
        .when(F.col("__rn") > 1, F.lit("exact_batch"))
        .when(F.col("__near"), F.lit("near_index"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus NOVELTY score — the inverse-boilerplate quality signal:
    per document, the fraction of its DISTINCT n-gram shingles that
    appear in NO other document. Template/boilerplate text scores near
    0 (all its shingles recur elsewhere); genuinely novel prose scores
    near 1. The per-shingle document frequency is the same statistic
    ``boilerplate_ngrams`` ranks globally — this is its per-document
    roll-up.

    Output: (id_col, n_shingles, n_novel, novelty) — one row per doc
    (docs shorter than ``n`` tokens contribute their whole text as the
    single shingle, the ``shingles_of`` convention).

    Determinism: counts are exact integers; novelty is one integer
    ratio rounded at the end.

    Scale: one explode to distinct (doc, shingle) pairs, one
    shingle-keyed df count, one equi-join back (shuffled — the
    shingle table is corpus-sized), one doc-keyed roll-up."""
    sh = (
        df.withColumn("__toks", tokens_col(F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(shingles_of(F.col("__toks"), n=int(n))).alias("__sh"),
        )
        .distinct()
    )
    dfreq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(dfreq, "__sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def minhash_jaccard_audit(
    df: DataFrame,
    num_perm: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SKETCH-QUALITY AUDIT for the MinHash pipeline — estimate next
    to truth, the ``cms_counts`` philosophy applied to similarity: for
    every banded-LSH candidate pair, the MinHash ESTIMATE of Jaccard
    (fraction of agreeing signature positions — an unbiased estimator
    with sd ≈ sqrt(J(1−J)/num_perm)) beside the EXACT shingle Jaccard,
    plus the absolute error. This is the number that justifies (or
    indicts) a chosen num_perm before a 100 TB dedup run commits to
    it.

    Output: (id_a, id_b, est_jaccard, exact_jaccard, abs_err) — one
    row per LSH candidate pair.

    Scale: the candidate set is banded-LSH (never all-pairs); the
    exact-intersection join touches only candidate docs' shingles.
    The pair set is DATA-DEPENDENT — template-heavy corpora can make
    it corpus-sized — so no broadcast hint is forced on it: AQE's
    runtime size statistics pick broadcast when the pairs actually fit
    (localCheckpoint materializes them, giving AQE exact sizes) and
    fall back to a shuffled hash join when they don't, instead of
    OOMing the driver. Signatures join back by doc id. Estimates and
    truths are integer ratios rounded at the end."""
    pairs = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col, num_perm=num_perm,
        bands=bands, shingle_n=shingle_n,
    ).localCheckpoint(eager=False)
    sig = minhash_signature(
        df, text_col=text_col, id_col=id_col, num_perm=num_perm,
        shingle_n=shingle_n,
    )
    eq = F.aggregate(
        F.zip_with(
            F.col("__sa"),
            F.col("__sb"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = (
        pairs.join(
            sig.select(
                F.col(id_col).alias("id_a"), F.col("minhash").alias("__sa")
            ),
            "id_a",
        )
        .join(
            sig.select(
                F.col(id_col).alias("id_b"), F.col("minhash").alias("__sb")
            ),
            "id_b",
        )
        .select("id_a", "id_b", eq.alias("__eq"))
    )
    shd = df.withColumn("__toks", tokens_col(F.col(text_col))).select(
        F.col(id_col),
        F.explode(shingles_of(F.col("__toks"), shingle_n)).alias("__s"),
    )
    sizes = shd.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_sh"))
    inter = (
        shd.select(F.col(id_col).alias("id_a"), "__s")
        .join(pairs, "id_a")
        .join(
            shd.select(F.col(id_col).alias("id_b"), "__s"), ["id_b", "__s"]
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    est_j = F.round(
        F.col("__eq").cast("double") / F.lit(float(int(num_perm))), 6
    )
    iv = F.coalesce(F.col("__inter"), F.lit(0))
    exact_j = F.round(
        iv
        / (F.col("__na") + F.col("__nb") - iv).cast("double"),
        6,
    )
    return (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__n_sh").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__n_sh").alias("__nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            est_j.alias("est_jaccard"),
            exact_j.alias("exact_jaccard"),
            F.round(F.abs(est_j - exact_j), 6).alias("abs_err"),
        )
    )


def minhash_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    num_perm: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LEXICAL near-dup EVAL-SET CONTAMINATION audit — the third leg
    of the contamination triad: ``quality.contamination_report`` flags
    exact 13-gram leaks, ``similarity.embedding_contamination`` flags
    semantic ones, and this flags LEXICAL near-duplicates (a
    lightly-edited eval document shares most shingles but no long
    n-gram and may embed differently) — the Dolma/FineWeb-style
    MinHash decontamination pass run before an eval score is trusted.

    For every eval document: banded-LSH candidates against the train
    corpus (asymmetric equi-join on (band_idx, band_hash) — NEVER
    all-pairs), the EXACT shingle Jaccard on candidates only
    (intersection join touches candidate docs' shingles alone, the
    ``minhash_jaccard_audit`` verify stage), and the per-eval max via
    the shared ``packed_max_by`` JVM argmax (ties to the largest
    train id). One row per eval document ALWAYS — an eval doc with no
    LSH candidate reports NULL max/nearest and ``contaminated=false``
    (an audit that silently shrinks its output is how a contaminated
    eval slips through).

    Output: (query_id, max_jaccard, nearest_train_id, contaminated).

    Recall caveat (documented, same as every LSH pass): a true
    near-dup pair missed by ALL bands is invisible — tune
    (num_perm, bands) with ``minhash_recall_curve`` first.

    Scale: two signature pipelines (each ONE map-side-combining agg),
    one banded equi-join whose buckets are LSH-small, shingle joins
    bounded to candidates, and one HashAggregate argmax. No corpus
    cross join, no window over the stream."""
    ev_b = _banded(
        eval_df, text_col, id_col, num_perm, bands, shingle_n
    ).select(
        F.col(id_col).alias("query_id"), "band_idx", "band_hash"
    )
    tr_b = _banded(
        train, text_col, id_col, num_perm, bands, shingle_n
    ).select(
        F.col(id_col).alias("__tid"), "band_idx", "band_hash"
    )
    cands = (
        ev_b.join(tr_b, ["band_idx", "band_hash"])
        .select("query_id", "__tid")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ev_sh = eval_df.withColumn("__toks", tokens_col(F.col(text_col))).select(
        F.col(id_col).alias("query_id"),
        F.explode(shingles_of(F.col("__toks"), shingle_n)).alias("__s"),
    )
    tr_sh = train.withColumn("__toks", tokens_col(F.col(text_col))).select(
        F.col(id_col).alias("__tid"),
        F.explode(shingles_of(F.col("__toks"), shingle_n)).alias("__s"),
    )
    ev_n = ev_sh.groupBy("query_id").agg(F.count(F.lit(1)).alias("__ne"))
    tr_n = tr_sh.groupBy("__tid").agg(F.count(F.lit(1)).alias("__nt"))
    inter = (
        ev_sh.join(cands, "query_id")
        .join(tr_sh, ["__tid", "__s"])
        .groupBy("query_id", "__tid")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    iv = F.coalesce(F.col("__i"), F.lit(0))
    scored = (
        cands.join(inter, ["query_id", "__tid"], "left")
        .join(ev_n, "query_id")
        .join(tr_n, "__tid")
        .select(
            "query_id",
            "__tid",
            F.round(
                iv / (F.col("__ne") + F.col("__nt") - iv).cast("double"), 6
            ).alias("__j"),
        )
        .filter(F.col("__j").isNotNull())
    )
    from .similarity import packed_max_by

    best = packed_max_by(scored, "query_id", "__j", "__tid", round_to=6)
    return (
        eval_df.select(F.col(id_col).alias("query_id"))
        .join(best, "query_id", "left")
        .select(
            "query_id",
            (F.col("__scaled").cast("double") / F.lit(1e6)).alias(
                "max_jaccard"
            ),
            F.col("__tid").alias("nearest_train_id"),
            F.coalesce(
                F.col("__scaled").cast("double") / F.lit(1e6)
                >= float(threshold),
                F.lit(False),
            ).alias("contaminated"),
        )
    )


def cdc_chunk_hashes(
    df: DataFrame,
    window: int = 4,
    mask_bits: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: bool = False,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (the storage-dedup gear/Rabin idea
    applied to token streams): a chunk boundary falls AFTER token i
    whenever the rolling hash of the last ``window`` tokens satisfies
    H56(...) % 2^mask_bits == 0 — boundaries are a pure function of
    LOCAL content, so inserting or deleting a prefix shifts which
    positions are boundaries but not which CONTENT is (expected chunk
    length 2^mask_bits tokens). This is the shift-resistant dedup
    unit ``passage_dedup``'s fixed windows cannot give: prepend one
    token to a document and every fixed window changes, while almost
    every CDC chunk (and its hash) survives.

    The DEFAULT path applies no min/max chunk guards — guards make
    boundary i depend on boundary i-1 (a sequential scan); the pure
    local rule keeps the operator one declarative pass AND lets a SQL
    oracle replay it with window functions alone.

    THE GUARDED PRODUCTION TWIN (VERDICT r12 #6): ``scale=True`` (or
    any guard set) routes chunk ASSIGNMENT through a doc-grouped
    Arrow ``applyInPandas`` stage that honors a candidate boundary
    only once the open chunk holds >= ``min_tokens`` tokens and
    force-splits at ``max_tokens`` — killing the geometric tail of
    1-token chunks (and unbounded runs) that bloats the hash-frequency
    join on adversarial/template corpora. The candidate FLAGS are
    still the JVM lag-window expression and the chunk-hash roll-up
    stays JVM-side; Python only walks the SPARSE candidate list per
    doc (~n/2^mask_bits entries), sequential within a doc — docs are
    the parallelism unit. With no guards set, the twin is
    row-identical to the declarative path (tested); the transition is
    a pure function of (start, candidates, n), which a SQL oracle
    replays with a recursive CTE. The final chunk of a doc may run
    short of ``min_tokens`` (the standard trailing-runt convention).

    Output: (id_col, chunk_idx, n_tokens, chunk_hash) — one row per
    chunk, chunk text hashed with H56 over the space-join.

    Scale: tokens explode once; the boundary flag is a map-side
    expression over ``window - 1`` LAG columns; chunk ids are one
    cumulative sum and the chunk roll-up one aggregation — both keyed
    on the document, one shuffle total."""
    w, mb = int(window), int(mask_bits)
    if w < 1 or mb < 1:
        raise ValueError(
            f"cdc_chunk_hashes: window and mask_bits must be >= 1 "
            f"(got {w}/{mb})"
        )
    toks = fan_out(df).select(
        F.col(id_col),
        F.posexplode(tokens_col(F.col(text_col))).alias("__pos", "__tok"),
    )
    order = Window.partitionBy(id_col).orderBy("__pos")
    # concat_ws skips NULLs, so the first w-1 positions hash their
    # shorter prefixes — identical semantics in the SQL oracle's
    # list_slice(greatest(1, i-w+1), i)
    lags = [F.lag("__tok", k).over(order) for k in range(w - 1, 0, -1)]
    wtext = F.concat_ws(" ", *lags, F.col("__tok"))
    flagged = toks.withColumn(
        "__b",
        (h56(wtext) % F.lit(1 << mb) == 0).cast("int"),
    )
    if scale or min_tokens is not None or max_tokens is not None:
        chunked = _cdc_assign_guarded(
            flagged, id_col, min_tokens or 1, max_tokens
        )
    else:
        # boundary AFTER token i opens a new chunk at i+1: cumulative
        # sum of the PREVIOUS rows' flags
        cum = (
            Window.partitionBy(id_col)
            .orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        chunked = flagged.withColumn(
            "__chunk",
            F.coalesce(F.sum("__b").over(cum), F.lit(0)).cast("long"),
        )
    return (
        chunked.groupBy(id_col, F.col("__chunk").alias("chunk_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            h56(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__pos", "__tok"))
                        ),
                        lambda x: x["__tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
    )


def _cdc_assign_guarded(
    flagged: DataFrame, id_col: str, mn: int, mx: int | None
) -> DataFrame:
    """Guarded chunk-id assignment for ``cdc_chunk_hashes``: per doc,
    walk the sparse candidate-boundary list, honoring a candidate only
    at chunk length >= mn and force-splitting at mx. One doc-keyed
    shuffle (the same class the window path uses); tokens and flags
    arrive JVM-computed, chunk hashes leave JVM-aggregated.

    Shape note: repartition-by-doc + sortWithinPartitions +
    ``mapInPandas`` grouping docs INSIDE the Python function — NOT
    ``applyInPandas``, whose per-group invocation overhead dominates
    when groups are document-sized (measured 8.1 s -> ~2 s at sf0.1:
    5 000 tiny pandas groups vs one vectorized pass per partition).
    The function buffers rows only until a doc completes (docs are
    contiguous under the sort), so partition memory is bounded by the
    largest document plus one Arrow batch — not the partition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if mn < 1 or (mx is not None and mx < mn):
        raise ValueError(
            f"cdc_chunk_hashes: need 1 <= min_tokens <= max_tokens "
            f"(got {mn}/{mx})"
        )

    out_schema = T.StructType(
        [
            flagged.schema[id_col],
            T.StructField("__pos", T.IntegerType()),
            T.StructField("__tok", T.StringType()),
            T.StructField("__chunk", T.LongType()),
        ]
    )
    big = 1 << 62
    lim = mx if mx is not None else big

    def walk(pos: "np.ndarray", flags: "np.ndarray") -> "np.ndarray":
        # pos is 0..n-1 sorted; returns the chunk id per position
        n = len(pos)
        cands = pos[flags == 1]
        bounds = []
        start, ci = 0, 0
        while start < n:
            while ci < len(cands) and cands[ci] < start + mn - 1:
                ci += 1
            if ci < len(cands) and cands[ci] <= start + lim - 1:
                end = int(cands[ci])
            elif n - start > lim:
                end = start + lim - 1
            else:
                break  # trailing chunk runs to n-1 (may be a runt)
            bounds.append(end)
            start = end + 1
        return np.searchsorted(
            np.asarray(bounds, dtype=np.int64), pos, side="left"
        ).astype(np.int64)

    def assign(batches):
        tail = None  # rows of the partition's still-open document(s)
        for pdf in batches:
            if tail is not None and len(tail):
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if not len(pdf):
                continue
            ids = pdf[id_col]
            last_id = ids.iloc[-1]
            done = pdf.loc[ids != last_id]
            tail = pdf.loc[ids == last_id]
            if len(done):
                yield _cdc_emit(done, id_col, walk, np)
        if tail is not None and len(tail):
            yield _cdc_emit(tail, id_col, walk, np)

    part = flagged.repartition(F.col(id_col)).sortWithinPartitions(
        id_col, "__pos"
    )
    return part.mapInPandas(assign, schema=out_schema)


def _cdc_emit(pdf, id_col: str, walk, np):
    """Chunk ids for a frame of COMPLETE documents (sorted by
    (id, __pos)): one vectorized walk per doc, one output frame."""
    chunks = np.empty(len(pdf), dtype=np.int64)
    pos_all = pdf["__pos"].to_numpy(dtype=np.int64)
    flag_all = pdf["__b"].to_numpy(dtype=np.int64)
    ids = pdf[id_col].to_numpy()
    starts = np.flatnonzero(
        np.r_[True, ids[1:] != ids[:-1]]
    )
    ends = np.r_[starts[1:], len(pdf)]
    for s0, e0 in zip(starts, ends):
        chunks[s0:e0] = walk(pos_all[s0:e0], flag_all[s0:e0])
    out = pdf[[id_col, "__pos", "__tok"]].copy()
    out["__chunk"] = chunks
    return out


def cdc_dedup_report(
    df: DataFrame,
    window: int = 4,
    mask_bits: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: bool = False,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
) -> DataFrame:
    """Per-document CDC dedup report: chunk the corpus with
    ``cdc_chunk_hashes`` and count, per document, how many of its
    chunks also occur elsewhere (corpus frequency > its own
    multiplicity... a chunk is SHARED when the corpus-wide count of
    its hash exceeds the document's own count of it) — the
    storage-style dedup-rate number per document.

    Output: (id_col, n_chunks, n_chunk_tokens, n_shared_chunks,
    shared_ratio) — one row per non-empty document.

    Scale: the chunk frame is corpus-sized / 2^mask_bits; the
    frequency join shuffles on the chunk hash (uniform), the report
    is one doc-keyed aggregation."""
    chunks = cdc_chunk_hashes(
        df, window=window, mask_bits=mask_bits,
        id_col=id_col, text_col=text_col,
        scale=scale, min_tokens=min_tokens, max_tokens=max_tokens,
    )
    per_doc_hash = chunks.groupBy(id_col, "chunk_hash").agg(
        F.count(F.lit(1)).alias("__own"),
        F.sum("n_tokens").alias("__tok"),
    )
    freq = per_doc_hash.groupBy("chunk_hash").agg(
        F.sum("__own").alias("__cf")
    )
    return (
        per_doc_hash.join(freq, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.sum("__own").cast("long").alias("n_chunks"),
            F.sum("__tok").cast("long").alias("n_chunk_tokens"),
            F.sum(
                F.when(F.col("__cf") > F.col("__own"), F.col("__own"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_shared_chunks"),
        )
        .withColumn(
            "shared_ratio",
            F.round(
                F.col("n_shared_chunks") / F.col("n_chunks").cast("double"),
                6,
            ),
        )
    )


def dup_rate_by_source(
    df: DataFrame,
    num_perm: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """PER-SOURCE DUPLICATE-RATE report — the curation decision table
    a corpus run reads before re-crawling: near-dup the corpus
    (MinHash banded-LSH pairs → connected components → min-id
    canonical per cluster) and charge every NON-canonical member to
    its source. A source whose rate is high re-serves content the
    corpus already has; the number that de-prioritizes it.

    Output: (source_col, n_docs, n_redundant, dup_rate) — redundant =
    in a multi-member cluster and not its canonical survivor, so the
    canonical copy is never charged and Σ n_redundant = docs removed
    by the dedup.

    Scale: the same shapes as ``dedup_neardup_survivors`` (bucketed
    LSH equi-join, pointer-jumping CC) plus one doc-keyed join back to
    the source column and a dimension-keyed aggregation."""
    from .graph import dedup_clusters as _clusters  # local import: graph imports nothing from dedup

    pairs = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col, num_perm=num_perm,
        bands=bands, shingle_n=shingle_n,
    )
    clusters = _clusters(pairs, df.select(id_col), id_col=id_col)
    marked = clusters.select(
        id_col,
        (F.col("cluster_id") != F.col(id_col)).cast("int").alias("__dup"),
    )
    return (
        df.select(id_col, F.col(source_col))
        .join(marked, id_col)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__dup").cast("long").alias("n_redundant"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                F.col("n_redundant") / F.col("n_docs").cast("double"), 6
            ),
        )
    )


def prefix_suffix_overlap(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SHARD-SEAM / CONTINUATION dedup: find ordered pairs (a, b)
    where a's LAST ``k`` tokens equal b's FIRST ``k`` tokens — the
    signature of re-chunked crawls, overlapping context windows, and
    split documents whose halves were ingested as separate rows.
    Neither MinHash (global similarity too low) nor passage dedup
    (windows must align) catches a 10%-overlap seam; the boundary
    k-gram equality does, exactly.

    Output: (id_a, id_b, overlap_text) — a != b, both docs >= k
    tokens, a's suffix == b's prefix VERBATIM (the H56 key only
    routes the join; string equality re-checks, so hash collisions
    cannot fabricate a pair).

    Scale: two map-side k-token projections, ONE hash-keyed equi-join
    (uniform H56 key, no all-pairs), string recheck map-side after
    the join. Seam frequency is corpus-dependent but output is
    pair-of-matching-boundaries sized, never quadratic in docs."""
    if int(k) < 1:
        raise ValueError(f"prefix_suffix_overlap: k must be >= 1 (got {k})")
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    base = fan_out(df).select(
        F.col(id_col),
        F.array_join(F.slice(toks, 1, int(k)), " ").alias("__pre"),
        F.array_join(
            F.slice(toks, -int(k), int(k)), " "
        ).alias("__suf"),
        n.alias("__n"),
    ).filter(F.col("__n") >= int(k))
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("__suf").alias("__stext"),
        h56(F.col("__suf")).alias("__h"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("__pre").alias("__ptext"),
        h56(F.col("__pre")).alias("__h"),
    )
    return (
        a.join(b, "__h")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("__stext") == F.col("__ptext"))
        )
        .select("id_a", "id_b", F.col("__stext").alias("overlap_text"))
    )


def line_dedup(
    df: DataFrame,
    line_tokens: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4/RefinedWeb-style cross-corpus LINE dedup: a "line" that
    occurs in ``min_docs`` or more DISTINCT documents is boilerplate
    (navigation chrome, license banners, share buttons) and is removed
    from EVERY document — the corpus-frequency policy, distinct from
    ``passage_dedup``'s first-occurrence-wins. Fixed non-overlapping
    ``line_tokens`` token windows stand in for newline-delimited lines
    (the corpus has no newline structure; same convention as
    passage_dedup).

    Output: (id_col, n_lines, n_removed, text_kept), one row per
    non-empty document; a document that is pure boilerplate survives
    with empty text (drop policy is the caller's, matching C4 where
    removal and document filtering are separate stages).

    Scale: line frequencies are one hash-keyed aggregation over
    (line-hash, doc) pairs — two-level: an exact per-doc distinct is
    map-side combinable because a doc's lines arrive on one row — and
    the flag join is equi-keyed on the line hash (uniform md5 keys, no
    skew; the frequency side is distinct-lines-sized, shuffled not
    broadcast at corpus scale). Reassembly is the same one group-by as
    passage_dedup. No Python, no windows over the whole corpus.

    Determinism: frequency thresholds don't depend on row order;
    reassembly sorts surviving lines by position in-row."""
    from .quality import chunk_documents

    lines = chunk_documents(
        df, chunk_tokens=line_tokens, overlap=0, id_col=id_col, text_col=text_col
    ).withColumn("__h", F.md5("chunk_text"))
    freq = (
        lines.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
        .filter(F.col("__n_docs") >= int(min_docs))
        .select("__h", F.lit(True).alias("__boiler"))
    )
    flagged = lines.join(freq, "__h", "left").withColumn(
        "__rm", F.coalesce(F.col("__boiler"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("__rm"), F.struct(F.col("chunk_id"), F.col("chunk_text"))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("__rm"), 1).otherwise(0)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias("text_kept"),
    )


def soft_dedup_weights(
    df: DataFrame,
    num_perm: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SOFT deduplication (SoftDeDup-style REWEIGHTING): instead of
    dropping near-duplicates, keep every document and down-weight each
    by its duplicate-cluster size — weight = 1/|cluster| — so a
    cluster contributes ONE document's worth of gradient mass in
    training no matter how many copies the crawl caught. The
    keep-everything alternative to ``dedup_clusters``-then-filter:
    exact-dup-heavy corpora lose no coverage (rare variants inside a
    near-dup cluster still appear), while the effective epoch count of
    boilerplate drops to 1.

    Pipeline: banded MinHash-LSH candidate pairs → connected
    components → cluster sizes → per-doc weight, singletons weight 1.

    Output: (id_col, cluster_id, cluster_size, weight), one row per
    input document; weight = round(1/size, 6).

    Scale: the pair stage is the bucketed LSH join (never all-pairs);
    CC is the pointer-jumping loop bounded by component diameter;
    sizes are one count agg on cluster_id and the weight join is
    cluster-keyed. Same posture as dedup_neardup_survivors, plus one
    bounded agg."""
    from .graph import dedup_clusters

    pairs = minhash_lsh_pairs(
        df, num_perm=num_perm, bands=bands, id_col=id_col, text_col=text_col
    )
    # pinned: the size aggregation AND the weight join both read the
    # cluster frame — unpinned, the id join behind it would run twice
    clusters = dedup_clusters(pairs, df.select(id_col), id_col=id_col).localCheckpoint(
        eager=False
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clusters.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size").cast("double"), 6).alias(
            "weight"
        ),
    )


def cluster_split(
    df: DataFrame,
    ratios_permille: dict[str, int] | None = None,
    num_perm: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """LEAKAGE-FREE train/val/test split: near-duplicate documents
    must land in the SAME split (a test doc whose near-copy sits in
    train silently inflates every eval), so the split hash keys on
    the near-dup CLUSTER id, not the document id. ``dataset_split``
    decides from the doc id alone and cannot see duplicates; this op
    is its dedup-aware sibling — the split every serious LM data
    pipeline runs after near-dedup (or instead of dropping).

    Pipeline: banded MinHash-LSH candidate pairs → connected
    components → cluster id (min member id, ``dedup_clusters``) →
    H56(salt‖cluster_id) mod 1000 against cumulative permille ranges
    (``dataset_split``'s exact assignment formula, applied to the
    cluster key). Singletons hash on their own id, so on a dup-free
    corpus the assignment degenerates to ``dataset_split`` verbatim.

    Output: one row per document — (id, cluster_id, split).

    Scale: the pair stage is the bucketed LSH join (never all-pairs);
    CC is pointer-jumping bounded by duplicate-group diameter; the
    split label is a map-side expression on the cluster id. Same
    shuffle classes as ``soft_dedup_weights``."""
    from .graph import dedup_clusters
    from .quality import dataset_split

    pairs = minhash_lsh_pairs(
        df, num_perm=num_perm, bands=bands, id_col=id_col, text_col=text_col
    )
    clusters = dedup_clusters(pairs, df.select(id_col), id_col=id_col)
    # the assignment IS dataset_split, keyed on the cluster id — one
    # formula, one validation, impossible to drift apart
    return dataset_split(
        clusters,
        ratios_permille=ratios_permille,
        id_col="cluster_id",
        salt=salt,
        out=out,
    )


def semantic_dedup_survivors(
    data: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 8,
    max_iter: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    max_cell_size: int | None = None,
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup END-TO-END (Abbas et al. 2023): k-means the embedding
    corpus into semantic cells, score exact cosine ONLY within each
    cell, connect the >= ``threshold`` pairs into duplicate groups,
    and KEEP ONE document per group — the embedding-clustering
    curation stage the LLM-data north star calls for, composed
    entirely from existing primitives (``similarity.
    semantic_dedup_pairs`` for the cell-bounded pair generation,
    ``graph.dedup_clusters`` for the component assignment).

    Output: one row per input vector — (id, cluster_id, cluster_size,
    keep); ``keep`` is True for exactly one member per duplicate
    group (the minimum id — SemDeDup keeps an arbitrary-but-fixed
    representative; min-id is the deterministic choice every engine
    reproduces) and for every singleton.

    Scale: pair generation is the k-means-cell equi-join (work
    Σ n_c², never n²; ``max_cell_size`` LSH-subdivides mega-cells —
    see ``semantic_dedup_pairs``); components are the pointer-jumping
    loop bounded by duplicate-group diameter (near-dup groups are
    shallow); the size/keep stage is one cluster-keyed count plus a
    cluster-keyed join. Nothing all-pairs, nothing driver-sized
    except the k centroid rows. Same posture as
    ``soft_dedup_weights`` with the MinHash stage swapped for the
    semantic one."""
    from .graph import dedup_clusters
    from .similarity import semantic_dedup_pairs

    pairs = semantic_dedup_pairs(
        data,
        centroids=centroids,
        k=k,
        max_iter=max_iter,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        normalize=normalize,
        max_cell_size=max_cell_size,
        round_to=round_to,
    )
    # pin the pair frame: connected_components reads its edge input
    # twice (the symmetrization union), and this pipeline's top is a
    # fresh cell-join + cosine projection with no reusable exchange —
    # unpinned, the whole within-cell scoring pass executes twice
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    clusters = dedup_clusters(
        pairs, data.select(id_col), id_col=id_col
    ).localCheckpoint(eager=False)  # two consumers: sizes agg + keep join
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clusters.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def minhash_recall_curve(
    df: DataFrame,
    num_perm: int = 16,
    band_options: tuple[int, ...] = (2, 4, 8),
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH TUNING CURVE — the dedup-family mirror of
    ``ivf_recall_curve``: for each band count, how many of the EXACT
    near-dup pairs (capped n-gram Jaccard >= ``threshold``, the
    ground truth the LSH stage exists to approximate) the banded
    candidates recover, beside the candidate volume that recall
    costs. More bands = narrower band rows = looser buckets = more
    candidates AND more recall — this curve is the number that
    justifies a production (num_perm, bands) choice instead of
    folklore.

    Output: one row per band count, ascending —
    (bands, n_candidates, n_truth, n_hits, recall), recall =
    round(n_hits / n_truth, 6), NULL when no truth pairs exist.

    Determinism: every column is an exact count except the final
    rounded ratio; both pair generators emit canonical id_a < id_b
    pairs, so the hit join is exact.

    Scale: the truth side is the capped inverted-index join (linear
    by the df-cap argument on ``ngram_jaccard_pairs``) computed ONCE
    and ``localCheckpoint``-pinned before the band loop (VERDICT r14
    #3 — each config consumes it twice, in the semi-join and the
    truth count, so an unpinned plan re-ran the exact-Jaccard CTE ~2×
    per band). Measured trade at sf0.1 (solo A/B, min-of-3): pinned
    3.27 s vs unpinned 2.88 s — at audit scale the checkpoint is a
    BARRIER that stops the band branches from scheduling their stages
    concurrently, and the re-derived truth CTE is cheap; at corpus
    scale the trade flips hard (the truth join is the expensive
    stage, and pinning caps it at ONE computation instead of 2×bands)
    — the default serves the scale posture, not the benchmark. Each
    band config is one banded bucket pass; per-config output is ONE
    row. The MinHash signature is band-independent, so the corpus is
    signed ONCE and the checkpoint-pinned signature frame is shared
    across every band configuration (``_sig``) — an audit op run on
    samples, not the hot path."""
    if not band_options:
        raise ValueError(
            "band_options must name at least one band count — an empty "
            "curve has no DataFrame to return"
        )
    truth = (
        ngram_jaccard_pairs(
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            threshold=threshold,
            max_shingle_df=max_shingle_df,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    # the MinHash signature is BAND-INDEPENDENT: sign the corpus once
    # and pin it — each sweep configuration then pays only its banding
    # + bucket pass (previously the shingle/md5/min pipeline re-ran per
    # configuration)
    sig = minhash_signature(
        df, text_col, id_col, num_perm, shingle_n
    ).localCheckpoint(eager=False)
    rows = None
    for b in sorted(int(x) for x in band_options):
        cand = minhash_lsh_pairs(
            df,
            text_col=text_col,
            id_col=id_col,
            num_perm=num_perm,
            bands=b,
            shingle_n=shingle_n,
            _sig=sig,
        )
        hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
        row = (
            cand.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(b).cast("long").alias("bands"),
                "n_candidates",
                "n_truth",
                "n_hits",
                F.when(
                    F.col("n_truth") > 0,
                    F.round(
                        F.col("n_hits").cast("double")
                        / F.col("n_truth").cast("double"),
                        6,
                    ),
                ).alias("recall"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows
