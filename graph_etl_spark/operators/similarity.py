"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; LSH-bucketed and
IVF variants as the approximate scale path.

Scale design: the three exact scans (``brute_force_topk``,
``mips_topk``, ``l2_topk``) collect the query side once, small by
construction, and score every data partition against it in numpy
blocks (``_exact_topk``, one ``mapInPandas``, no cross join). The
block scorer folds in ``dot``/``norm``'s order, so raw scores are
bit-equal to the JVM kernels, and emits per Arrow batch only the rows
that can rank; Spark then rounds them and takes the per-query top-k
(one shuffle on query id). Every other kernel is a JVM array
expression (``zip_with`` + ``aggregate``): the public ``dot``, ``norm``
and ``cosine``, and the candidate re-scoring of the IVF, PQ and
re-rank paths. IVF cuts the scanned fraction to ~1/nlist per probe.

Every per-query top-k here ranks through ONE primitive, ``_topk``. It
fixes the tie order (score, then neighbor id ascending) and the
NULL/NaN contract (a row whose score is NULL or NaN never takes a
rank). It is one rank window per query; Catalyst plans a partial
``WindowGroupLimit`` below the window's exchange, so each map
partition is already cut to k rows per query before the shuffle and no
single reducer ranks every scored row of a query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..session import Pins, _archive_reuse
from ..sources import fan_out


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _topk(
    scored: DataFrame,
    k: int,
    score: str,
    asc: bool,
    *,
    rank: str = "rank",
) -> DataFrame:
    """The k best rows of ``scored`` per ``query_id``, numbered 1..k in
    column ``rank``: ``score`` ascending when ``asc`` (a distance),
    descending otherwise (a similarity), ties on ``neighbor_id``
    ascending — unique per query, so the order is total. Every column
    passes through; callers select their output.

    Rows with a NULL or NaN score never take a rank. A NULL embedding
    makes any score NULL, a zero-norm side makes a cosine NULL
    (non-ANSI 0/0) or NaN, and a NaN component makes it NaN. Spark
    orders NaN above every number and NULL first ascending, so such a
    row would take rank 1 of a descending search (NaN) or of a
    distance search (NULL). The window therefore sorts them after
    every valid row and the filter above it drops them, so valid rows
    take ranks 1..m in the same order as if they had been dropped
    first. The guard sits ABOVE the window on purpose: a filter on the
    score below it is pushed through the projection that defines the
    score, Catalyst substitutes the aliased score expression into the
    pushed-down predicate (into the cross-join condition of a brute
    force scan), and every pair's kernel then runs twice. A filter
    over a window's output is not pushed below it.

    The window is a ``row_number`` bounded by a ``<=`` filter, so
    Catalyst inserts a partial ``WindowGroupLimit`` below the
    exchange: each map partition keeps k rows per query, and the
    exchange carries at most partitions × queries × k rows."""
    kk = int(k)
    # NULL counts as NaN, so one test covers both
    bad = F.isnan(F.coalesce(F.col(score).cast("double"), F.lit(float("nan"))))
    w = Window.partitionBy("query_id").orderBy(
        bad.asc(),
        F.col(score).asc() if asc else F.col(score).desc(),
        F.col("neighbor_id").asc(),
    )
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        (F.col(rank) <= kk) & ~bad
    )


def _hoisted_cosine(round_to: int) -> Column:
    """Rounded cosine of ``__qvec`` and ``__dvec`` whose norms are
    already hoisted into per-row columns ``__qn`` and ``__dn``: the
    per-pair cosine is dot/(qn·dn), identical arithmetic in identical
    order to ``cosine``, so it is bit-equal while the O(dim) norm fold
    runs once per row instead of once per pair. A zero norm makes the
    cosine NULL (``try_divide``), with ANSI on as well as off, so the
    pair never ranks."""
    return F.round(
        F.try_divide(
            dot(F.col("__qvec"), F.col("__dvec")), F.col("__qn") * F.col("__dn")
        ),
        round_to,
    )


# cells of one (query block x Arrow batch) score matrix: 8 MiB of
# float64, and each fold step holds a few temporaries of that size
_BLOCK_CELLS = 1 << 20
# the exact scans' score column, and whether a larger score ranks first
_EXACT = {"cos": ("cos_sim", True), "dot": ("dot_sim", True), "l2": ("l2_dist", False)}


def _block_scorer(qids: list, qvecs: list, k: int, metric: str, slack: float, install):
    """The pandas function of ``_exact_topk``'s scan: for each Arrow
    batch of (neighbor_id, __dvec) rows, the (query_id, neighbor_id,
    __raw) rows that can rank among a query's ``k`` best. A closure,
    so it pickles by value with the query matrix it holds.

    Scores are float64 left folds from 0.0 over the components in
    order, the arithmetic of ``dot``/``norm`` (and of the L2 kernel,
    ``(x - y)²``), vectorized across pairs: ``acc = acc + q[j] * d[j]``
    for each j. That is the order of Spark's ``aggregate``, so a raw
    score is bit-equal to the ``zip_with`` form; a BLAS product sums in
    another order and is not. A pair scores nothing where Spark's
    kernel is NULL or NaN: a NULL vector, a NULL or NaN component
    (NULL arrives as NaN), vectors of unequal length (``zip_with``
    pads the shorter with NULL), a zero norm product for ``cos``, and
    the self pair (``neighbor_id != query_id``); no id is NULL.

    Per batch and query, only rows whose raw score is within ``slack``
    of the query's k-th best raw score are kept. ``slack`` is two
    rounding steps: a row more than one step below the k-th rounds
    strictly below it, so the k rows at or above the k-th outrank it
    globally, and the second step absorbs the float error of the
    subtraction. Queries are scored in blocks of at most
    ``_BLOCK_CELLS`` pairs per batch."""
    larger_first = _EXACT[metric][1]

    def by_length(ids, vecs):
        """{length: (ids, components as a length x rows float64
        matrix)} over the rows whose vector is not NULL."""
        lens = np.array([-1 if v is None else len(v) for v in vecs], dtype=np.int64)
        out = {}
        for n in np.unique(lens[lens >= 0]):
            at = np.flatnonzero(lens == n)
            rows = np.array([vecs[i] for i in at], dtype=np.float64)
            out[int(n)] = (ids[at], rows.reshape(len(at), n).T.copy())
        return out

    def fold(terms, shape):
        acc = np.zeros(shape)
        for t in terms:
            acc += t
        return acc

    def sq(x):
        return x * x

    def norm(m):
        return np.sqrt(fold((sq(m[j]) for j in range(len(m))), m.shape[1]))

    def block(qid, q, qn, nid, d, dn):
        shape, dim = (len(qid), len(nid)), len(d)
        with np.errstate(all="ignore"):
            if metric == "l2":
                raw = np.sqrt(fold((sq(q[j][:, None] - d[j]) for j in range(dim)), shape))
            else:
                raw = fold((q[j][:, None] * d[j] for j in range(dim)), shape)
            valid = qid[:, None] != nid
            if metric == "cos":
                den = qn[:, None] * dn
                raw = raw / den
                valid &= den != 0
        valid &= ~np.isnan(raw)
        good = np.where(valid, raw if larger_first else -raw, -np.inf)
        if 0 < k < len(nid):
            kth = np.partition(good, -k, axis=1)[:, -k]
            valid &= good >= (kth - slack)[:, None]
        qi, ni = np.nonzero(valid)
        return pd.DataFrame({"query_id": qid[qi], "neighbor_id": nid[ni], "__raw": raw[qi, ni]})

    queries = {
        n: (qid, q, norm(q) if metric == "cos" else None)
        for n, (qid, q) in by_length(np.array(qids), qvecs).items()
    }

    def score(batches):
        install()
        for batch in batches:
            parts = []
            data = by_length(batch["neighbor_id"].to_numpy(), list(batch["__dvec"]))
            for n, (nid, d) in data.items():
                if n not in queries:
                    continue
                qid, q, qn = queries[n]
                dn = norm(d) if metric == "cos" else None
                step = max(1, _BLOCK_CELLS // len(nid))
                for lo in range(0, len(qid), step):
                    at = slice(lo, lo + step)
                    qn_at = None if qn is None else qn[at]
                    parts.append(block(qid[at], q[:, at], qn_at, nid, d, dn))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return score


def _exact_topk(data, queries, k, id_col, vec_col, round_to, metric) -> DataFrame:
    """The exact top-k scan of ``brute_force_topk``, ``mips_topk`` and
    ``l2_topk``: (query_id, neighbor_id, <score>, rank), the score
    rounded to ``round_to`` places and named by ``_EXACT``.

    The query side is collected once and scored against every
    partition of ``fan_out(data)`` in numpy blocks (``_block_scorer``,
    a ``mapInPandas``), which emits per Arrow batch only the rows that
    can rank. ``F.round`` and ``_topk``'s window, with its partial
    ``WindowGroupLimit`` below the exchange, then round and rank the
    survivors in Spark, so rounding and tie order are Spark's own."""
    name, larger_first = _EXACT[metric]
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    d = fan_out(data).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__dvec")
    )
    schema = StructType([
        StructField("query_id", q.schema["query_id"].dataType),
        StructField("neighbor_id", d.schema["neighbor_id"].dataType),
        StructField("__raw", DoubleType()),
    ])
    # a NULL id never passes neighbor_id != query_id, nor a NULL
    # vector a kernel
    rows = q.filter(F.col("query_id").isNotNull()).collect()
    d = d.filter(F.col("neighbor_id").isNotNull() & F.col("__dvec").isNotNull())
    score = _block_scorer(
        [r["query_id"] for r in rows], [r["__qvec"] for r in rows], int(k), metric,
        2 * 10.0 ** -int(round_to), _archive_reuse(),
    )
    scored = d.mapInPandas(score, schema).select(
        "query_id", "neighbor_id", F.round("__raw", int(round_to)).alias(name)
    )
    return _topk(scored, k, name, asc=not larger_first).select(
        "query_id", "neighbor_id", name, "rank"
    )


def brute_force_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest data
    vectors (excluding itself). Deterministic ranking: rounded cosine
    desc, then neighbor id asc — engine-stable even at float-precision
    ties. Pairs with an undefined cosine (zero-norm, NULL or NaN side,
    vectors of unequal length) are dropped, with ANSI on as well as off.

    The query side is collected once; every data partition is scored
    against it in numpy blocks, bit-equal to ``cosine``, and emits only
    its candidates before Spark rounds and ranks them (``_exact_topk``).
    """
    return _exact_topk(data, queries, k, id_col, vec_col, round_to, "cos")


def packed_max_by(
    scored: DataFrame,
    group_col: str,
    val_col: str,
    tid_col: str,
    round_to: int = 4,
    max_abs: float = 1.0,
) -> DataFrame:
    """Shared JVM-side argmax: per group, the (max rounded value, id
    attaining it — ties to the LARGEST id) via ONE map-side-combining
    HashAggregate. The rounded value and the int64 id pack losslessly
    into one DECIMAL(38,0) — packed = (round(v·10^r) + 10^r)·2^64 +
    (id + 2^63), order-isomorphic to (v, id) — so a plain ``max`` does
    the whole reduction in whole-stage codegen: no SortAggregate sort
    of the scored stream, no Arrow round-trip through Python. Callers:
    ``embedding_contamination`` (cosine) and
    ``dedup.minhash_contamination`` (Jaccard).

    ``val_col`` must already be rounded to ``round_to`` decimals and
    satisfy |v| <= ``max_abs`` (default 1.0 — both callers pack a
    cosine/Jaccard); the intermediate decimal is sized from
    ``max_abs``, and a row outside the domain raises at execution
    time (``assert_true``) instead of overflowing the cast to NULL
    and silently vanishing from the max — the code-review r16
    wrong-argmax hazard on non-ANSI sessions. NULL values keep the
    pre-guard behavior (NULL pack, ignored by ``max``).
    ``tid_col`` must be integral.

    Returns one row per group: (group_col, __scaled, __tid), where
    ``__scaled / 10^round_to`` reproduces the rounded value
    bit-for-bit (integer-to-double division is correctly rounded)."""
    sc = 10 ** int(round_to)
    # digits of the max packable head round(v·sc) + sc, + 1 headroom
    cos_prec = len(str(int(float(max_abs) * sc) + sc)) + 1
    if cos_prec > 18:
        raise ValueError(
            f"packed_max_by: max_abs={max_abs} at round_to={round_to} "
            f"needs a {cos_prec}-digit head — the (head·2^64 + id) pack "
            f"leaves room for 18; lower round_to or max_abs"
        )
    two64 = F.expr("CAST('18446744073709551616' AS DECIMAL(38,0))")
    off_t = F.expr("CAST('9223372036854775808' AS DECIMAL(38,0))")
    in_domain = F.coalesce(
        F.abs(F.col(val_col)) <= F.lit(float(max_abs)), F.lit(True)
    )
    packed = F.when(
        F.assert_true(
            in_domain,
            F.lit(
                f"packed_max_by: |{val_col}| exceeds max_abs={max_abs} — "
                f"the decimal pack would overflow and drop the row from "
                f"the argmax; widen max_abs to cover the value domain"
            ),
        ).isNull(),
        (
            F.round(F.col(val_col) * F.lit(float(sc)), 0).cast("long")
            + F.lit(sc)
        ).cast(f"decimal({cos_prec},0)")
        * two64
        + (F.col(tid_col).cast("decimal(20,0)") + off_t),
    ).cast("decimal(38,0)")
    best = (
        scored.select(group_col, packed.alias("__p"))
        .groupBy(group_col)
        .agg(F.max("__p").alias("__best"))
    )
    tid_off = F.pmod(F.col("__best"), two64)
    return best.select(
        group_col,
        (
            ((F.col("__best") - tid_off) / two64).cast("long") - F.lit(sc)
        ).alias("__scaled"),
        (tid_off - off_t).cast("long").alias("__tid"),
    )


def embedding_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    max_eval_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding-level EVAL-SET CONTAMINATION audit: for every
    benchmark/eval vector, the maximum cosine similarity against the
    TRAIN corpus, the train id that attains it, and a flag at
    ``threshold`` — the semantic complement to the n-gram
    ``decontaminate`` op (a paraphrased or reformatted leak shares no
    13-gram but sits at cosine ~1 in embedding space; both audits run
    before an eval score is trusted).

    Output: one row per eval vector — (query_id, max_cos_sim,
    nearest_train_id, contaminated). Ties on the max break to the
    LARGEST train id (lexicographic (cos, id) max — deterministic on
    any engine; the flag and max are tie-invariant).

    Scale: the eval side is broadcast (benchmarks are thousands of
    rows, not corpora — ``max_eval_rows`` makes that CONTRACTUAL: a
    distributed count gates the broadcast and raises when a
    corpus-sized frame is passed as the eval side, the
    ``markov_steady_state`` boundedness-gate precedent; ``None``
    disables the extra job for callers that know). The train corpus
    STREAMS map-side through ONE scan and the per-eval max runs
    entirely JVM-side as a single hash aggregation: the rounded
    cosine and the train id pack losslessly into one DECIMAL(38,0) —
    packed = (round(cos·10^r) + 10^r)·2^64 + (tid + 2^63), order-
    isomorphic to (cos, tid) — so ``max(packed)`` is a plain
    map-side-combining HashAggregate (mutable fixed-width buffer; no
    SortAggregate sort of the scored stream, no Arrow round-trip of
    n_train × n_eval rows through Python — the r15 mapInPandas argmax
    this replaces serialized exactly that). The exchange carries
    partitions × n_eval packed rows; unpacking runs on the n_eval
    result. No window over the corpus, no corpus shuffle. Zero-norm
    pairs (NaN cosine) are dropped from SCORING as in every exact
    cosine path, but the one-row-per-eval contract survives them: an
    eval vector with no scoreable pair (zero-norm embedding, or an
    empty train corpus) still emits its row with NULL max/nearest and
    ``contaminated = false`` — an audit that silently shrinks its
    output is how a contaminated eval slips through."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(
        train.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        raise ValueError(
            f"embedding_contamination: train id column {id_col!r} must be "
            f"integral (got {train.schema[id_col].dataType.simpleString()}) — "
            f"the JVM-side max packs (cos, id) into one decimal; hash or "
            f"dense-rank string ids first (negative_samples' index pattern)"
        )
    q = eval_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qn", norm(F.col("__qvec")))
    if max_eval_rows is not None:
        n_eval = q.count()
        if n_eval > int(max_eval_rows):
            raise ValueError(
                f"embedding_contamination: eval_df has {n_eval} rows, over "
                f"max_eval_rows={max_eval_rows} — the eval side is broadcast "
                f"to every executor, so a corpus-sized frame here melts the "
                f"driver; swap the sides (audit the smaller set), pre-sample, "
                f"or raise/disable the gate if the broadcast is truly intended"
            )
    d = fan_out(train).select(
        F.col(id_col).alias("__tid"), F.col(vec_col).alias("__dvec")
    ).withColumn("__dn", norm(F.col("__dvec")))
    # zero-norm guard BEFORE the division: Spark's 0/0 is NULL on
    # non-ANSI sessions (not IEEE NaN — isnan() would leak it) and a
    # DIVIDE_BY_ZERO error on ANSI ones; the when() keeps the division
    # unevaluated for zero denominators in both modes
    den = F.col("__qn") * F.col("__dn")
    scored = (
        d.crossJoin(F.broadcast(q))
        .withColumn(
            "__cos",
            F.when(
                den > 0,
                F.round(
                    dot(F.col("__qvec"), F.col("__dvec")) / den, round_to
                ),
            ),
        )
        .filter(F.col("__cos").isNotNull() & ~F.isnan("__cos"))
        .select("query_id", "__tid", "__cos")
    )
    # the shared lossless (rounded cos, tid) pack — see packed_max_by
    sc = 10 ** int(round_to)
    unpacked = packed_max_by(
        scored, "query_id", "__cos", "__tid", round_to=round_to
    )
    return (
        q.select("query_id")
        .join(unpacked, "query_id", "left")
        .select(
            "query_id",
            (F.col("__scaled").cast("double") / F.lit(float(sc))).alias(
                "max_cos_sim"
            ),
            F.col("__tid").alias("nearest_train_id"),
            F.coalesce(
                F.col("__scaled").cast("double") / F.lit(float(sc))
                >= float(threshold),
                F.lit(False),
            ).alias("contaminated"),
        )
    )


def clip_score_filter(
    pairs: DataFrame,
    img_col: str = "img_embedding",
    txt_col: str = "txt_embedding",
    id_col: str = "pair_id",
    trim_percentile: float = 0.1,
    round_to: int = 4,
) -> DataFrame:
    """CLIP-score IMAGE-TEXT ALIGNMENT FILTER — the cross-modal
    curation gate (VERDICT r15 #6): each row carries a PAIRED image
    embedding and text embedding (the CLIP two-tower outputs); the
    alignment score is their cosine, and pairs scoring below the
    corpus's ``trim_percentile`` order statistic are flagged for
    removal — the LAION-style "CLIP filter" that drops mismatched
    alt-text before training.

    Output: one row per input pair — (id, clip_score, threshold,
    keep). ``threshold`` is the EXACT lower-interpolation percentile
    (the element at 1-based rank floor(p·(n−1)) + 1 of the sorted
    non-null scores — the ``group_percentiles`` convention), so both
    engines agree bit-for-bit with no averaging arithmetic.
    Un-scoreable pairs (zero-norm side → undefined cosine) keep their
    row with NULL score and ``keep = false`` — a filter that silently
    drops rows is how a corrupt shard slips through.

    Scale: scoring is one JVM ``zip_with`` dot product per pair (no
    Python, no explode), pinned once (``localCheckpoint``) so the
    threshold job and the output plan share the scored frame. The
    order statistic comes from the TWO-PHASE ``exact_global_rank``
    (percentile boundary literals → bucket-local windows + broadcast
    prefix offsets — ZERO unpartitioned WindowExec), and the 1-row
    threshold broadcast-crosses the output. No corpus shuffle beyond
    the rank's bucket exchange."""
    p = float(trim_percentile)
    if not (0.0 <= p < 1.0):
        raise ValueError(
            f"clip_score_filter: trim_percentile must be in [0, 1) "
            f"(got {trim_percentile})"
        )
    from .quality import exact_global_rank

    den = norm(F.col("__img")) * norm(F.col("__txt"))
    # NaN-poisoned embeddings (a corrupt shard) pass den > 0 — Spark
    # orders NaN above every number, so NaN·NaN > 0 is TRUE — and a
    # NaN clip_score would then satisfy clip_score >= threshold the
    # same way, silently KEEPING exactly the rows the filter exists to
    # drop (code-review r16). The isnan wrap nulls them into the
    # documented un-scoreable contract: NULL score, keep = false. The
    # outer when evaluates the division only where den > 0, so the
    # ANSI divide-by-zero guard is preserved.
    raw_score = F.when(
        den > 0,
        F.round(dot(F.col("__img"), F.col("__txt")) / den, int(round_to)),
    )
    scored = (
        pairs.select(
            F.col(id_col),
            F.col(img_col).alias("__img"),
            F.col(txt_col).alias("__txt"),
        )
        .select(
            id_col,
            F.when(~F.isnan(raw_score), raw_score).alias("clip_score"),
        )
        .localCheckpoint(eager=False)
    )
    nn = scored.filter(
        F.col("clip_score").isNotNull() & ~F.isnan("clip_score")
    )
    ranked, n_scored = exact_global_rank(
        nn, "clip_score", ["clip_score", id_col], out="__r"
    )
    import math

    target = math.floor(p * (n_scored - 1)) + 1 if n_scored > 0 else 0
    thr = (
        ranked.filter(F.col("__r") == F.lit(target))
        .agg(F.max("clip_score").alias("__thr"))  # exactly 0/1 input rows
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        id_col,
        "clip_score",
        F.col("__thr").alias("threshold"),
        F.coalesce(F.col("clip_score") >= F.col("__thr"), F.lit(False)).alias(
            "keep"
        ),
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup).

    Exact all-pairs is O(n²) — correct at oracle scale; at 100 TB use
    ``lsh_bucketed_neardup_pairs`` (random-hyperplane buckets) so only
    within-bucket pairs are scored.
    """
    # per-row norm hoist (see _hoisted_cosine) — bit-identical cosine,
    # O(dim) norm fold once per row instead of once per pair
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")).withColumn(
        "__na", norm(F.col("__va"))
    )
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")).withColumn(
        "__nb", norm(F.col("__vb"))
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
                round_to,
            ),
        )
        # zero-norm vectors yield 0/0 = NaN, and Spark ranks NaN above
        # every numeric, so `>= threshold` would PASS such rows — drop
        # them, same contract as brute_force_topk's exact path
        .filter(~F.isnan("cos_sim") & (F.col("cos_sim") >= threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def _hyperplane(seed: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane: component j is
    H56(seed:j) scaled to [-1, 1]. Reproducible across runs/engines.

    The components are computed DRIVER-SIDE (one md5 per component,
    once per plan) and emitted as a literal array — evaluating the md5
    chain inside a per-row expression costs dim × n_planes × n_tables
    md5 calls per ROW (~2048 at the defaults), which benchmarked as the
    entire cost of the LSH stage."""
    import hashlib

    comps = [
        int(hashlib.md5(f"hp{seed}:{j}".encode()).hexdigest()[:14], 16) / float(2**55)
        - 1.0
        for j in range(dim)
    ]
    # ONE SQL string parsed JVM-side, not dim × F.lit py4j round-trips:
    # the _centroid_array_expr lesson applies here too — semantic dedup's
    # sub-bucket path builds n_planes × n_tables of these (24 at the
    # defaults), and per-component lits were ~40% of its driver-side
    # build time at sf0.1. repr + string→double cast is correctly-rounded
    # on both sides, so the literal is the bit-exact component value.
    return F.expr(
        "array(" + ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in comps) + ")"
    )


def signbits_col(vec: Column, n_planes: int, dim: int) -> Column:
    """Random-hyperplane sign bucket (SimHash for vectors): bit i =
    sign(vec · hyperplane_i). Map-side only."""
    bucket = None
    for i in range(n_planes):
        bit = F.when(dot(vec, _hyperplane(i, dim)) > 0, F.lit(2**i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def _hyperplane_matrix(n_planes: int, dim: int, n_tables: int):
    """(dim × n_planes·n_tables) numpy matrix of the deterministic
    hyperplanes — same md5-derived components as ``_hyperplane``."""
    import hashlib

    import numpy as np

    total = n_planes * n_tables
    mat = np.empty((dim, total), dtype=np.float64)
    for s in range(total):
        for j in range(dim):
            mat[j, s] = (
                int(hashlib.md5(f"hp{s}:{j}".encode()).hexdigest()[:14], 16)
                / float(2**55)
                - 1.0
            )
    return mat


def lsh_bucketed_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Approximate near-dup: random-hyperplane LSH buckets (n_tables
    independent tables), score only within-bucket pairs, verify with
    exact cosine. Recall grows with n_tables; cost is
    Σ per-bucket-pairs ≪ n². The scale path for cosine_neardup_pairs.

    Size ``n_planes`` with the corpus (the sketch-width rule, same as
    ``simhash_pairs``' bits): expected candidates grow as
    n² · n_tables / 2^n_planes, so FIXED planes go quadratic as n grows
    — the 10× scale probe measures ×6.7 runtime at 12 planes precisely
    because 2^12 buckets hold 10× the rows. Keep per-bucket occupancy
    roughly constant: n_planes ≈ log2(n / target_bucket_size)
    (e.g. ~20 planes at 10M vectors, ~30 at 10B).

    Physical shape: the n_planes·n_tables sign bits come from ONE
    Arrow-batched pandas_udf doing a (batch × dim) @ (dim × planes)
    BLAS matmul — per-row higher-order array expressions for 32 dot
    products benchmarked ~6× slower. Candidates equi-join on
    (table_id, bucket); the exact-cosine verify is a second vectorized
    pandas_udf over only the candidate pairs."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplane_matrix(n_planes, dim, n_tables)

    @pandas_udf("array<long>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        import numpy as np

        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        signs = (m @ planes) > 0  # (batch, planes*tables)
        weights = np.tile(2 ** np.arange(n_planes, dtype=np.int64), n_tables)
        b = (signs * weights).reshape(len(m), n_tables, n_planes).sum(axis=2)
        return pd.Series(list(b))

    @pandas_udf("double")
    def cos_pd(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        num = (a * b).sum(axis=1)
        den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
        return pd.Series(num / den)

    # both self-join sides re-evaluate the bucketed frame — deliberate:
    # the frame appears only 2× and the Arrow matmul is BLAS-cheap, so
    # a localCheckpoint's write+read costs MORE than the recompute
    # (A/B measured 2.09 s vs 1.83 s at sf0.1; contrast semantic_dedup_
    # pairs, where the frame appears 16× and the checkpoint wins 2×)
    bucketed = fan_out(df).select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.posexplode(bucket_ids(F.col(vec_col))).alias("table_id", "bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__v").alias("__va"),
            F.col("b.__v").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos_sim", F.round(cos_pd(F.col("__va"), F.col("__vb")), round_to))
        # numpy 0/0 is NaN too — same zero-norm drop as the exact path
        .filter(~F.isnan("cos_sim") & (F.col("cos_sim") >= threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector scale =
    127 / max|x| (1.0 for the zero vector), q_i = round(x_i × scale) ∈
    [-127, 127] — the standard 4× storage/bandwidth lever for an
    embedding corpus (float32 → int8), with the scale kept per vector
    so reconstruction is q_i / scale.

    Output: (id, scale, qvec array<int>, mae) where mae is the mean
    absolute reconstruction error — the quality audit a pipeline
    monitors when deciding whether int8 recall is acceptable.

    Map-side only, zero shuffle. The scale is materialized as a column
    BEFORE the quantization lambda (an embedded expression would
    re-reduce the array per element — see the lambda-CSE rule in
    operators/quality.py). All math in doubles with HALF_UP rounding,
    reproduced exactly by the DuckDB oracle."""
    base = (
        df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
        .withColumn(
            "__amax", F.array_max(F.transform("__v", lambda x: F.abs(x)))
        )
        .withColumn(
            "scale",
            F.when(F.col("__amax") > 0, F.lit(127.0) / F.col("__amax")).otherwise(
                F.lit(1.0)
            ),
        )
        .withColumn(
            "qvec",
            F.transform(
                "__v", lambda x: F.round(x * F.col("scale")).cast("int")
            ),
        )
    )
    n = F.size("__v")
    err = F.aggregate(
        F.zip_with(
            "__v", "qvec", lambda x, q: F.abs(x - q.cast("double") / F.col("scale"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return base.select(
        id_col,
        F.round("scale", round_to).alias("scale"),
        "qvec",
        F.round(err / n, round_to).alias("mae"),
    )


def _centroid_array_expr(cent_rows: list[tuple], id_sql_type: str) -> Column:
    """Literal array of (cent_id, cvec) centroid structs, built as ONE
    SQL string parsed JVM-side. Per-component ``F.lit()`` Columns would
    cost k × dim py4j round-trips (~7 s of pure driver time at k=16,
    dim=64, measured); one ``F.expr`` is one round-trip and the parsed
    literal constant-folds. Components are embedded via ``repr`` +
    string-cast: both Python repr and Spark's string→double cast are
    correctly-rounded, so the literal is the bit-exact collected value."""
    parts = []
    for cid, cvec in cent_rows:
        comps = ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in cvec)
        if isinstance(cid, str):
            # escape backslashes then quotes — a cent_id containing ' or \
            # must not terminate (or inject into) the SQL literal
            escaped = cid.replace("\\", "\\\\").replace("'", "\\'")
            cid_sql = f"'{escaped}'"
        else:
            cid_sql = repr(cid)
        parts.append(
            f"named_struct('cent_id', CAST({cid_sql} AS {id_sql_type}), "
            f"'cvec', array({comps}))"
        )
    return F.expr("array(" + ", ".join(parts) + ")")


def _kmeans_argmin(vec: Column, cent_rows: list[tuple], round_to: int, id_sql_type: str) -> Column:
    """Nearest-centroid argmin as a PURE PROJECTION over literal
    centroids: ``array_min(transform(cands, c -> struct(dist, cent_id)))``
    with the squared-L2 distance as the same sequential
    ``zip_with``+``aggregate`` fold the join form used (0.0 seed,
    left-to-right — bit-identical results).

    Why literals, not a broadcast join: k centroids are a
    hyperparameter-sized value (MLlib broadcasts cluster centers the
    same way; this file's ``ivf_topk`` already probes cells off a
    collected literal array). The previous ``crossJoin(broadcast) +
    min(struct(...))`` aggregate kept the shuffle small but its
    struct-typed buffer is not HashAggregate-compatible, so Spark
    planned a SortAggregate that SORTED the k-expanded corpus map-side
    every iteration — measured +50% on the sf0.1 bench. This form is
    zero-join, zero-shuffle, one corpus scan.

    Determinism: dists round to ``round_to`` BEFORE comparison and the
    struct ordering breaks ties on the smaller cent_id — same contract
    as the oracle's unrolled CTE chain."""
    cands = _centroid_array_expr(cent_rows, id_sql_type)
    scored = F.transform(
        cands,
        lambda c: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(vec, c["cvec"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_to,
            ).alias("dist"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    return F.array_min(scored)


def kmeans_centroids(
    data: DataFrame,
    k: int = 4,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column,
    DataFrame-native — the principled trainer for ``ivf_topk``'s
    centroids (init matches its contract: the k lowest-id vectors, each
    centroid keyed by its source vector id).

    Output: one row per (cent_id, pos, value) — the trained centroid
    components — plus the cluster population via ``n_members``.

    Scale per iteration: assignment is a zero-shuffle codegen
    projection over literal centroids (see ``_kmeans_argmin``); the
    update posexplodes assigned vectors to (cluster, dim, value) and
    averages — a map-side-combinable HashAggregate whose shuffle
    carries k × dim partial sums per map partition, nothing
    proportional to the corpus. The k × dim centroid frame is collected
    driver-side each iteration (hyperparameter-sized, same posture as
    MLlib's broadcast cluster centers), which also truncates lineage —
    no localCheckpoint needed.

    Cross-engine determinism: all math in doubles; distances round to
    ``round_to`` BEFORE the argmin with cent_id as tiebreak, and
    centroid components round each iteration — so the DuckDB oracle
    (unrolled CTE chain) reproduces every assignment bit-for-bit.

    A cluster whose membership empties mid-training keeps its previous
    centroid (driver-side carry-forward), so k centroids in always
    means k centroids out — ``n_members`` reports 0 for such a row."""
    pins = Pins("kmeans_centroids")
    cents, assigned = _kmeans_fit(pins, data, k, max_iter, id_col, vec_col, round_to)
    members = assigned.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_members"))
    return pins.result(
        cents.join(members, "cent_id", "left")
        .withColumn("n_members", F.coalesce("n_members", F.lit(0)))
        .select("cent_id", "n_members", F.posexplode("cvec").alias("pos", "value"))
        .select("cent_id", "pos", "value", "n_members")
    )


def kmeans_fit(
    data: DataFrame,
    k: int = 4,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Trained centroids as (cent_id, cent_vec array<double>) — the
    form ``ivf_topk(..., centroids=...)`` and ``kmeans_assign``
    consume, closing the train-then-index/shard loop."""
    pins = Pins("kmeans_fit")
    cents, _ = _kmeans_fit(pins, data, k, max_iter, id_col, vec_col, round_to)
    return pins.result(cents.select("cent_id", F.col("cvec").alias("cent_vec")))


def kmeans_assign(
    data: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """(id, cent_id, dist): nearest trained centroid per vector — the
    semantic-sharding primitive (cluster-balanced sampling, per-cluster
    quotas, write-time clustering for IVF partition pruning).

    The k-row centroid frame is collected to literals and the argmin is
    a zero-join, zero-shuffle codegen projection (``_kmeans_argmin``) —
    the corpus streams map-side untouched. Same determinism contract as
    the trainer (round-``round_to`` squared-L2, cent_id tiebreak)."""
    cent_rows = [
        (r["cent_id"], list(r["cent_vec"]))
        for r in centroids.select("cent_id", "cent_vec").collect()  # k rows — tiny, deliberate
    ]
    vecs = data.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    if not cent_rows:  # degenerate: no centroids -> no assignments
        return vecs.filter(F.lit(False)).select(
            id_col,
            F.col(id_col).alias("cent_id"),
            F.lit(0.0).alias("dist"),
        )
    id_sql_type = centroids.schema["cent_id"].dataType.simpleString()
    best = _kmeans_argmin(F.col("vec"), cent_rows, round_to, id_sql_type)
    return vecs.select(
        id_col,
        best["cent_id"].alias("cent_id"),
        best["dist"].alias("dist"),
    )


def _kmeans_fit(
    pins: Pins,
    data: DataFrame,
    k: int,
    max_iter: int,
    id_col: str,
    vec_col: str,
    round_to: int,
):
    """Lloyd's loop. Per iteration: ONE corpus scan (argmin projection
    over literal centroids feeding a map-side-combinable HashAggregate
    over (cent_id, pos)) whose k × dim result is collected driver-side
    to become the next iteration's literals — the corpus itself never
    shuffles and the collect is hyperparameter-sized. The driver-side
    centroid list also makes the empty-cluster carry-forward a plain
    dict lookup (a cluster whose membership empties keeps its previous
    centroid, so kmeans_fit(k=N) always returns N centroids). The
    corpus pin goes through the caller's scope."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    spark = data.sparkSession
    vecs = data.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    cent_rows = [
        (r["vec_id"], list(r["vec"]))
        for r in vecs.orderBy("vec_id").limit(k).collect()  # k rows — tiny, deliberate
    ]
    if not cent_rows:  # degenerate: empty corpus
        empty = vecs.select("vec_id", F.col("vec_id").alias("cent_id"), "vec")
        return empty.select("vec_id", F.col("vec").alias("cvec")).withColumnRenamed(
            "vec_id", "cent_id"
        ), empty
    assigned = None
    id_sql_type = vecs.schema["vec_id"].dataType.simpleString()
    if max_iter >= 2:
        # each Lloyd iteration scans the corpus once; materialize the
        # cast/normalized vectors so iterations 2..n read the local
        # checkpoint instead of re-running parquet scan + transform
        # chain per iteration. Partition contents are preserved, so
        # per-partition partial sums (and the round-6 averages the
        # oracle reproduces) are bit-identical. Skipped for a single
        # iteration, where materialization cannot pay for itself; at
        # cluster scale, train on a hash_sample slice (docstring) and
        # the checkpoint is sample-sized.
        vecs = pins.pin(vecs)
    for _ in range(max(0, max_iter)):
        best = _kmeans_argmin(F.col("vec"), cent_rows, round_to, id_sql_type)
        assigned = vecs.select(
            "vec_id", best["cent_id"].alias("cent_id"), "vec"
        )
        comp_rows = (
            assigned.select("cent_id", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cent_id", "pos")
            .agg(F.round(F.avg("val"), round_to).alias("val"))
            .collect()  # k x dim rows — tiny, deliberate
        )
        updated: dict = {}
        for r in comp_rows:
            updated.setdefault(r["cent_id"], {})[r["pos"]] = r["val"]
        cent_rows = [
            (
                cid,
                [v for _, v in sorted(updated[cid].items())] if cid in updated else prev,
            )
            for cid, prev in cent_rows
        ]
    id_type = vecs.schema["vec_id"].dataType
    cents = spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cent_rows],
        StructType(
            [
                StructField("cent_id", id_type, True),
                StructField("cvec", ArrayType(DoubleType()), True),
            ]
        ),
    )
    if assigned is None:
        # max_iter < 1: no training pass ran — return the seed
        # centroids with ONE assignment pass against them so callers
        # (kmeans_centroids' groupBy) always get a valid frame
        best = _kmeans_argmin(F.col("vec"), cent_rows, round_to, id_sql_type)
        assigned = vecs.select("vec_id", best["cent_id"].alias("cent_id"), "vec")
    return cents, assigned


def _ivf_cent_arr(cent_rows: list) -> Column:
    """Literal array<struct<cent_id, cvec>> over collected centroid
    rows — the in-plan index every IVF consumer scores against."""
    return F.array(
        *[
            F.struct(
                F.lit(r["cent_id"]).alias("cent_id"),
                F.array(*[F.lit(float(x)) for x in r["cent_vec"]]).alias("cvec"),
            )
            for r in cent_rows
        ]
    )


def _ivf_nearest_lists(cent_arr: Column, vec: Column, n: int) -> Column:
    """The n nearest centroids of ``vec`` by round-6 cosine (struct
    sort desc, cent_id tiebreak) — THE routing expression. Shared by
    ivf_topk and ivf_recall_curve so the sweep can never desynchronize
    from the operator it measures (ADVICE r17)."""
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            F.round(cosine(vec, c["cvec"]), 6).alias("sim"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    return F.slice(F.reverse(F.array_sort(scored)), 1, n)


def _ivf_prepare(
    data: DataFrame,
    nlist: int,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
) -> tuple:
    """Collect centroids and build the assigned/normed corpus frame —
    the NPROBE-INDEPENDENT half of the IVF plan, built once per index
    (a sweep reuses it across every sweep point). Returns
    (cent_rows, assigned)."""
    if centroids is None:
        centroids = (
            data.orderBy(id_col)
            .limit(nlist)
            .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        )
    cent_rows = centroids.select("cent_id", "cent_vec").collect()  # nlist rows — tiny, deliberate
    cent_arr = _ivf_cent_arr(cent_rows)
    # per-row norm hoist (see _hoisted_cosine) — bit-identical cosine,
    # the O(dim) norm fold runs once per row, not once per candidate
    assigned = (
        fan_out(data)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__dvec"),
            _ivf_nearest_lists(cent_arr, F.col(vec_col), 1)[0]["cent_id"].alias("list_id"),
        )
        .withColumn("__dn", norm(F.col("__dvec")))
    )
    return cent_rows, assigned


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    centroids: DataFrame | None = None,
    _prepared: tuple | None = None,
) -> DataFrame:
    """IVF approximate top-k: deterministic centroids (the nlist
    lowest-id vectors — a fixed, reproducible 'training'), assign every
    vector to its nearest centroid, probe the nprobe nearest lists per
    query. Scanned fraction ≈ nprobe/nlist.

    Pass ``centroids`` (cent_id, cent_vec — e.g. ``kmeans_fit``'s
    output) to index against TRAINED lists instead of the naive init;
    balanced lists tighten the scanned-fraction/recall trade.

    At cluster scale the assignment partitions the data by list id
    (write-time clustering); queries then prune partitions — the
    parquet-partition analog of a vector index.

    ``_prepared`` (private, sweep callers only): a
    ``(cent_rows, assigned)`` pair from a previous construction — the
    collected centroids and the assigned/normed corpus frame are
    NPROBE-INDEPENDENT, so a sweep (``ivf_recall_curve``) builds them
    once instead of re-collecting and re-assigning per sweep point.
    """
    if _prepared is not None:
        cent_rows, assigned = _prepared
    else:
        cent_rows, assigned = _ivf_prepare(
            data, nlist, id_col, vec_col, centroids=centroids
        )
    cent_arr = _ivf_cent_arr(cent_rows)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            F.transform(
                _ivf_nearest_lists(cent_arr, F.col(vec_col), nprobe),
                lambda s: s["cent_id"],
            )
        ).alias("list_id"),
    ).withColumn("__qn", norm(F.col("__qvec")))
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", _hoisted_cosine(round_to))
    )
    return _topk(scored, k, "cos_sim", asc=False).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def l2_normalize(df: DataFrame, vec_col: str = "embedding", out: str | None = None) -> DataFrame:
    """Unit-normalize an embedding column (doubles out). The norm is
    materialized as a real column BEFORE the per-component divide —
    embedding it in the transform lambda would re-reduce the whole
    vector once per element (interpreted higher-order fns have no CSE).
    Zero vectors pass through unchanged (norm 0 → divide-by-1)."""
    out = out or vec_col
    d = df.withColumn(
        "__l2n",
        norm(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    ).withColumn("__l2n", F.when(F.col("__l2n") > 0, F.col("__l2n")).otherwise(F.lit(1.0)))
    nrm = F.col("__l2n")
    return d.withColumn(
        out, F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm)
    ).drop("__l2n")


def semantic_dedup_pairs(
    data: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 8,
    max_iter: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    normalize: bool = True,
    max_cell_size: int | None = None,
    dim: int = 64,
    sub_planes: int = 12,
    sub_tables: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster the corpus with
    k-means, then score exact cosine ONLY within each cluster — pairs
    with ``cos_sim >= threshold`` plus the cluster they met in.

    The semantic analog of ``lsh_bucketed_neardup_pairs``: LSH buckets
    are random, k-means cells follow the data, so at equal candidate
    budgets the trained partition catches near-dups random hyperplanes
    split apart (the SemDeDup observation: duplicates concentrate
    inside semantic clusters).

    Physical shape: cluster tagging is the zero-shuffle literal-centroid
    argmin projection (``_kmeans_argmin`` — the corpus streams map-side);
    candidates come from ONE hash-partitioned self-equi-join on
    ``cent_id``, so the pair work is Σ n_c² over cluster sizes, never
    n². At 100 TB: size k so the expected cell fits an executor
    (k ≈ corpus/50k), and train on a sample — ``kmeans_fit`` on a
    ``hash_sample`` slice feeds the ``centroids`` parameter unchanged.
    A skewed mega-cluster is visible in ``kmeans_centroids.n_members``
    before the join runs (pair with ``skew.skew_report``).

    ``normalize`` (the default, and what SemDeDup itself does)
    L2-normalizes before clustering and scoring: k-means' squared-L2 on
    unit vectors is monotone in cosine (spherical k-means), so scaled
    duplicates land in the same cell and the cosine threshold acts on
    direction alone.

    ``max_cell_size`` bounds mega-cells BY CONSTRUCTION, not just by
    observability: cells whose membership exceeds it are subdivided by
    random-hyperplane LSH (``sub_planes`` sign bits over ``dim``
    components, ``sub_tables`` independent tables) and pairs are
    scored only within (cell, table, sub-bucket) — so a degenerate
    cell holding 30% of an adversarially skewed corpus contributes
    ~n²/2^sub_planes candidate work per table instead of n². Recall on
    true near-dups is preserved the way LSH always preserves it:
    similar vectors share sign bits with high probability (scaled/
    identical duplicates share ALL of them, so planted-dup recall is
    exactly 1.0), and each extra table is an independent retry for
    pairs a table's planes split. Cells at-or-under the cap keep the
    exact within-cell join (sub-bucket pinned to 0, table 0 only);
    pairs caught by several tables are deduplicated on (id_a, id_b).
    The cell-size frame is k rows — broadcast, never a corpus shuffle.
    Leave ``max_cell_size=None`` (the default) for the exact
    oracle-checked semantics with pair work Σ n_c².

    Determinism contract matches the k-means family (round-6 distances,
    cent_id tiebreak) so the DuckDB oracle reproduces every assignment;
    cosine rounds to ``round_to`` before the threshold test.
    """
    if normalize:
        data = l2_normalize(data, vec_col=vec_col)
    if centroids is None:
        centroids = kmeans_fit(data, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    cent_rows = [
        (r["cent_id"], list(r["cent_vec"]))
        for r in centroids.select("cent_id", "cent_vec").collect()  # k rows — tiny, deliberate
    ]
    # the L2 norm is materialized per ROW before the pair join: the
    # cosine denominator needs norm(a)·norm(b), and evaluating the
    # O(dim) norm fold inside the pair expression would recompute it
    # once per CANDIDATE PAIR (Σ n_c² times) instead of once per row —
    # same arithmetic, same order, so cos_sim stays bit-identical
    vecs = fan_out(data).select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).withColumn("__n", norm(F.col("__v")))
    if not cent_rows:
        return vecs.filter(F.lit(False)).select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col(id_col).alias("cent_id"),
            F.lit(0.0).alias("cos_sim"),
        )
    id_sql_type = centroids.schema["cent_id"].dataType.simpleString()
    best = _kmeans_argmin(F.col("__v"), cent_rows, round_to=6, id_sql_type=id_sql_type)
    tagged = vecs.select(id_col, F.col("__v"), F.col("__n"), best["cent_id"].alias("cent_id"))
    # materialize ONCE before any join sees this frame. Joining the
    # lazy plan lets the optimizer collapse the normalize / norm /
    # argmin projections into each other, and interpreted higher-order
    # lambdas have no CSE — the collapsed join plan re-evaluated the
    # whole fold chain per reference (measured 14 s vs 0.2 s for the
    # same frame at sf0.1, 16 parquet scans in the guard-path plan).
    # At cluster scale this is one corpus-sized local write — the same
    # order as the self-join's own shuffle of the corpus. EAGER on
    # purpose, unlike the lazy checkpoints in simhash/ngram/LSH pairs:
    # those frames appear 2× downstream, this one 16× (union of tables
    # × two join sides × the sizes probe), and with a lazy checkpoint
    # the analyzer still re-processes the full subplan per reference —
    # measured +1.2 s of pure driver planning at sf0.1.
    pins = Pins("semantic_dedup_pairs")
    tagged = pins.pin(tagged)

    if max_cell_size is None:
        a, b = tagged.alias("a"), tagged.alias("b")
        return pins.result(
            a.join(
                b,
                (F.col("a.cent_id") == F.col("b.cent_id"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.cent_id").alias("cent_id"),
                F.round(
                    dot(F.col("a.__v"), F.col("b.__v")) / (F.col("a.__n") * F.col("b.__n")),
                    round_to,
                ).alias("cos_sim"),
            )
            # zero-norm rows (normalize=False callers, or an all-zero
            # input vector) produce NaN cosine, which Spark ranks above
            # all numerics — drop, as in every other pair path
            .filter(~F.isnan("cos_sim") & (F.col("cos_sim") >= threshold))
        )

    # mega-cell guard: broadcast the k-row cell-size frame, LSH-subdivide
    # rows of oversized cells, and join on (cent_id, table, sub-bucket)
    sizes = tagged.groupBy("cent_id").agg(F.count(F.lit(1)).alias("__n_cell"))
    sized = tagged.join(F.broadcast(sizes), "cent_id")
    over = F.col("__n_cell") > F.lit(int(max_cell_size))

    def _subbits(vec: Column, table: int) -> Column:
        bits = None
        for i in range(sub_planes):
            bit = F.when(
                dot(vec, _hyperplane(table * sub_planes + i, dim)) > 0,
                F.lit(2**i),
            ).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        return bits.cast("long")

    # table 0 carries everyone (small cells pinned to sub-bucket 0);
    # tables 1.. carry ONLY oversized-cell rows — independent retries
    # for near-dup pairs table 0's planes happened to split
    parts = [
        sized.withColumn(
            "__sub", F.when(over, _subbits(F.col("__v"), 0)).otherwise(F.lit(0))
        ).withColumn("__tbl", F.lit(0))
    ]
    for t in range(1, sub_tables):
        parts.append(
            sized.filter(over)
            .withColumn("__sub", _subbits(F.col("__v"), t))
            .withColumn("__tbl", F.lit(t))
        )
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    a, b = cand.alias("a"), cand.alias("b")
    return pins.result(
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.__tbl") == F.col("b.__tbl"))
            & (F.col("a.__sub") == F.col("b.__sub"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.cent_id").alias("cent_id"),
            F.round(
                dot(F.col("a.__v"), F.col("b.__v")) / (F.col("a.__n") * F.col("b.__n")),
                round_to,
            ).alias("cos_sim"),
        )
        # same zero-norm NaN drop as the exact-cell path above
        .filter(~F.isnan("cos_sim") & (F.col("cos_sim") >= threshold))
        # a pair found by several tables is the same (cell, cosine) row
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): codebooks -> codes -> ADC top-k
# ---------------------------------------------------------------------------


def pq_train(
    data: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    max_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    _vecs: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    is split into ``m`` contiguous subspaces and each subspace gets its
    own ``k_codes``-centroid k-means codebook, so a ``dim``-float
    vector compresses to ``m`` small codes (m bytes at k_codes<=256)
    while ADC distance lookups stay O(m) per pair — the memory/compute
    story that makes billion-vector ANN fit a cluster.

    Output: (subspace, code, cvec array<double>) — m × k_codes rows.

    Physical shape — FUSED Lloyd's loop: one corpus scan per iteration
    trains ALL m subspaces (per-subspace argmin projections over
    literal codebooks in a single select, then one exploded
    (subspace, code, pos) HashAggregate whose shuffle carries
    m × k_codes × sub_dim partial sums per map partition — never the
    corpus). m separate kmeans_fit calls would scan the corpus
    m × max_iter times; this scans it max_iter times.

    Determinism contract (same as kmeans_fit): init = the k_codes
    lowest-id vectors' slices with code = their ascending rank;
    distances round to ``round_to`` BEFORE the argmin with the smaller
    code as tiebreak; centroid components round each iteration; a code
    whose membership empties keeps its previous centroid.

    ``_vecs`` (private, shared-pass callers only): a pre-cast
    ``(id_col, "__pqv" array<double>)`` corpus frame — typically a
    checkpoint-pinned cast shared with ``pq_encode``/the refine join,
    so one query builds the cast corpus ONCE instead of once per PQ
    stage (guide §2.4). Values are identical either way (the cast is
    the same expression).
    """
    if _vecs is not None:
        vecs = _vecs.select(
            F.col(id_col).alias("vec_id"), F.col("__pqv").alias("vec")
        )
    else:
        vecs = data.select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        )
    # the seed collect doubles as the dim probe (one corpus-scan job,
    # not two): the k_codes lowest-id rows carry the vectors whose
    # length IS the dim
    seed = vecs.orderBy("vec_id").limit(k_codes).collect()  # k rows — tiny, deliberate
    if not seed:  # degenerate: empty corpus -> empty codebooks
        return vecs.sparkSession.createDataFrame(
            [], "subspace int, code int, cvec array<double>"
        )
    dim = len(seed[0]["vec"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m

    books: dict[int, list[tuple]] = {
        s: [
            (code, list(r["vec"])[s * sub_dim : (s + 1) * sub_dim])
            for code, r in enumerate(seed)
        ]
        for s in range(m)
    }
    pins = Pins("pq_train")
    if max_iter >= 2 and _vecs is None:
        # same rationale as _kmeans_fit: iterations 2..n re-scan the
        # cast corpus; materialize it once (partition-preserving, so
        # the round-6 averages are bit-identical). A caller-supplied
        # _vecs is already pinned by the caller — don't double-pin.
        vecs = pins.pin(vecs)
    for _ in range(max(0, max_iter)):
        assigned = vecs.select(
            "vec",
            *[
                _kmeans_argmin(
                    F.slice("vec", s * sub_dim + 1, sub_dim), books[s], round_to, "int"
                )["cent_id"].alias(f"__c{s}")
                for s in range(m)
            ],
        )
        stacked = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("subspace"),
                            F.col(f"__c{s}").alias("code"),
                            F.slice("vec", s * sub_dim + 1, sub_dim).alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        ).select("e.subspace", "e.code", F.posexplode("e.sub").alias("pos", "val"))
        comp_rows = (
            stacked.groupBy("subspace", "code", "pos")
            .agg(F.round(F.avg("val"), round_to).alias("val"))
            .collect()  # m × k_codes × sub_dim rows — tiny, deliberate
        )
        updated: dict = {}
        for r in comp_rows:
            updated.setdefault((r["subspace"], r["code"]), {})[r["pos"]] = r["val"]
        books = {
            s: [
                (
                    code,
                    [v for _, v in sorted(updated[(s, code)].items())]
                    if (s, code) in updated
                    else prev,
                )
                for code, prev in books[s]
            ]
            for s in range(m)
        }
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    return pins.result(
        data.sparkSession.createDataFrame(
            [(s, code, cvec) for s in range(m) for code, cvec in books[s]],
            StructType(
                [
                    StructField("subspace", IntegerType(), True),
                    StructField("code", IntegerType(), True),
                    StructField("cvec", ArrayType(DoubleType()), True),
                ]
            ),
        )
    )


def _collect_books(codebooks: DataFrame) -> dict[int, list[tuple]]:
    """codebooks frame -> {subspace: [(code, cvec), ...] code-ordered}.
    m × k_codes rows — hyperparameter-sized collect, deliberate."""
    books: dict[int, list[tuple]] = {}
    for r in codebooks.select("subspace", "code", "cvec").collect():
        books.setdefault(r["subspace"], []).append((r["code"], list(r["cvec"])))
    return {s: sorted(rows) for s, rows in books.items()}


def pq_encode(
    data: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    _vecs: DataFrame | None = None,
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to its
    per-subspace nearest-code ids. Zero-join, zero-shuffle codegen
    projection over literal codebooks (the ``kmeans_assign`` posture):
    the corpus streams map-side, m argmins per row. Same determinism
    contract as pq_train; ``_vecs`` shares a pre-cast corpus frame
    (see pq_train)."""
    books = _collect_books(codebooks)
    m = len(books)
    if _vecs is not None:
        vecs = _vecs.select(id_col, F.col("__pqv").alias("__vec"))
    else:
        vecs = data.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
        )
    if m == 0:  # degenerate: no codebooks -> no codes
        return vecs.filter(F.lit(False)).select(
            id_col, F.array().cast("array<int>").alias("codes")
        )
    sub_dim = len(books[0][0][1])
    return vecs.select(
        id_col,
        F.array(
            *[
                _kmeans_argmin(
                    F.slice("__vec", s * sub_dim + 1, sub_dim), books[s], round_to, "int"
                )["cent_id"]
                for s in range(m)
            ]
        ).alias("codes"),
    )


def pq_adc_topk(
    data: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    _vecs: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation: the query
    stays a full vector, the corpus is its PQ codes, and
    dist(q, x) ≈ Σ_s dtable[s][code_s] where dtable is the per-query
    table of squared-L2 distances from the query's subspace slice to
    every codebook centroid — m array lookups per candidate instead of
    an O(dim) fold, the PQ scan speedup.

    Output: (query_id, neighbor_id, adc_dist, rank) with rank <= k;
    ranking breaks distance ties on the smaller neighbor id.

    Physical shape: the dtable is computed IN-PLAN on the query row
    (m × k_codes rounded lookups over literal codebooks), queries
    broadcast, the encoded corpus streams map-side (no shuffle until
    the per-query ranking window, which partitions on query_id —
    n_queries × corpus candidate rows cut to k per query and map
    partition by the window's partial limit, as in brute_force_topk)."""
    books = _collect_books(codebooks)
    m = len(books)
    if m == 0:
        enc = data.select(F.col(id_col)).filter(F.lit(False))
        return enc.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).alias("rank"),
        )
    sub_dim = len(books[0][0][1])

    def _l2sq(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # per-subspace literal centroid arrays ORDERED BY code, so the
    # dtable row for subspace s is indexed by code+1
    def _book_lit(s: int) -> Column:
        parts = []
        for _, cvec in books[s]:
            comps = ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in cvec)
            parts.append(f"array({comps})")
        return F.expr("array(" + ", ".join(parts) + ")")

    def _dt_row(s: int) -> Column:
        # closure factory, NOT a default-arg lambda: a two-parameter
        # lambda would make F.transform pass the ELEMENT INDEX as the
        # second argument, silently clobbering the subspace binding
        qslice = F.slice("__qvec", s * sub_dim + 1, sub_dim)
        return F.transform(
            _book_lit(s), lambda cv: F.round(_l2sq(qslice, cv), round_to)
        )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qvec"),
    ).withColumn("__dt", F.array(*[_dt_row(s) for s in range(m)]))
    enc = pq_encode(
        data, codebooks, id_col=id_col, vec_col=vec_col, round_to=round_to,
        _vecs=_vecs,
    )
    scored = (
        enc.withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(q.select("query_id", "__dt")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc_dist",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(m)),
                    F.lit(0.0),
                    lambda acc, i: acc
                    + F.element_at(
                        F.element_at("__dt", i), F.element_at("codes", i) + 1
                    ),
                ),
                round_to,
            ),
        )
    )
    return _topk(scored, k, "adc_dist", asc=True).select(
        "query_id", "neighbor_id", "adc_dist", "rank"
    )


def pq_refine_topk(
    data: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    _vecs: DataFrame | None = None,
) -> DataFrame:
    """PQ shortlist-then-refine top-k — how production PQ indexes are
    actually queried: the O(m)-per-pair ADC scan produces a
    ``shortlist``-sized candidate set per query, then ONLY those
    candidates are re-ranked with the exact squared-L2 distance
    against the full vectors. At 100 TB the exact O(dim) arithmetic
    touches n_queries × shortlist rows instead of n_queries × corpus —
    the ADC scan does the winnowing, the refine fixes its
    quantization error.

    Output: (query_id, neighbor_id, l2_dist, rank), rank <= k, ties on
    (rounded dist, neighbor id).

    Physical shape: ADC stage as ``pq_adc_topk``; the refine joins the
    shortlist back to the corpus on the ID hash (shuffle bounded by
    n_queries × shortlist, NOT the corpus) and broadcasts the query
    vectors again for the exact fold."""
    sl = pq_adc_topk(
        data,
        queries,
        codebooks,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
        _vecs=_vecs,
    ).select("query_id", "neighbor_id")
    if _vecs is not None:
        d = _vecs.select(
            F.col(id_col).alias("neighbor_id"), F.col("__pqv").alias("__dvec")
        )
    else:
        d = data.select(
            F.col(id_col).alias("neighbor_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__dvec"),
        )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qvec"),
    )
    refined = (
        sl.join(d, "neighbor_id")
        .join(F.broadcast(qq), "query_id")
        .withColumn(
            "l2_dist",
            F.round(
                F.aggregate(
                    F.zip_with("__qvec", "__dvec", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_to,
            ),
        )
    )
    return _topk(refined, k, "l2_dist", asc=True).select(
        "query_id", "neighbor_id", "l2_dist", "rank"
    )


def ivfpq_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    shortlist: int = 100,
    coarse_iter: int = 2,
    pq_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF-PQ top-k — the FAISS-style billion-scale index, composed
    from this module's pieces: a coarse k-means quantizer routes every
    vector to one of ``nlist`` inverted lists; vectors are PQ-encoded
    on their RESIDUAL (x − coarse centroid), which is what makes the
    codes tight enough to rank with; a query probes only its
    ``nprobe`` nearest lists (the scanned fraction ≈ nprobe/nlist),
    scores candidates by ADC against a per-(query, probed-list)
    residual distance table, and the top ``shortlist`` refine with
    exact L2.

    Output: (query_id, neighbor_id, l2_dist, rank), rank <= k.

    Physical shape at scale: the corpus is touched by (a) the coarse
    assignment + residual encode — zero-shuffle literal-centroid
    projections — and (b) the probe join, an equi-join on cent_id
    against a broadcast (query × nprobe)-row frame, so only probed
    lists produce candidate rows; the ADC is m array lookups per
    candidate; the refine joins shortlist×queries rows back to the
    corpus by id. Write-time clustering by cent_id (kmeans_assign +
    partitionBy) turns the probe join into partition pruning.

    Determinism: every stage inherits the kmeans/PQ contracts
    (round-6 distances, id tiebreaks); ranking ties break on
    neighbor id.
    """
    cents = kmeans_fit(data, k=nlist, max_iter=coarse_iter, id_col=id_col, vec_col=vec_col, round_to=round_to)
    cent_rows = [
        (r["cent_id"], list(r["cent_vec"]))
        for r in cents.collect()  # nlist rows — tiny, deliberate
    ]
    if not cent_rows:
        e = data.select(F.col(id_col)).filter(F.lit(False))
        return e.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("l2_dist"),
            F.lit(0).alias("rank"),
        )
    id_sql_type = cents.schema["cent_id"].dataType.simpleString()

    vecs = data.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )
    best = _kmeans_argmin(F.col("__vec"), cent_rows, round_to, id_sql_type)
    cent_lit = _centroid_array_expr(cent_rows, id_sql_type)
    assigned = vecs.select(
        id_col,
        "__vec",
        best["cent_id"].alias("cent_id"),
    ).withColumn(
        "__res",
        F.zip_with(
            "__vec",
            F.element_at(
                F.map_from_entries(
                    F.transform(cent_lit, lambda c: F.struct(c["cent_id"], c["cvec"]))
                ),
                F.col("cent_id"),
            ),
            lambda a, b: a - b,
        ),
    ).localCheckpoint(eager=False)
    # pinned: THREE consumers read the assigned/residual frame —
    # pq_train's Lloyd pass, pq_encode, and the cent_id attach join —
    # and its plan (argmin over literal centroids + O(dim) residual
    # zip per row) would otherwise execute once per consumer. At
    # cluster scale this is the same corpus-sized pin the PQ trainer
    # itself makes (train on a hash_sample slice there).
    # the residuals are ALREADY doubles on the pinned frame — hand
    # them to the PQ stages as the shared pre-cast corpus so pq_train
    # doesn't re-checkpoint its own projection of a pinned frame and
    # skips the separate dim-probe job (guide §2.4)
    res_vecs = assigned.select(id_col, F.col("__res").alias("__pqv"))
    books = pq_train(
        assigned, m=m, k_codes=k_codes, max_iter=pq_iter,
        id_col=id_col, vec_col="__res", round_to=round_to, _vecs=res_vecs,
    )
    enc = pq_encode(
        assigned, books, id_col=id_col, vec_col="__res", round_to=round_to,
        _vecs=res_vecs,
    ).join(assigned.select(id_col, "cent_id"), id_col)

    # query side: nprobe nearest coarse lists, residual per probed list
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qvec"),
    )
    scored_cents = F.transform(
        cent_lit,
        lambda c: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(F.col("__qvec"), c["cvec"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_to,
            ).alias("dist"),
            c["cent_id"].alias("cent_id"),
            c["cvec"].alias("cvec"),
        ),
    )
    probes = (
        qv.select("query_id", "__qvec", F.explode(F.slice(F.array_sort(scored_cents), 1, nprobe)).alias("p"))
        .select(
            "query_id",
            F.col("p.cent_id").alias("cent_id"),
            F.zip_with("__qvec", F.col("p.cvec"), lambda a, b: a - b).alias("__qres"),
        )
    )

    # per-(query, probed list) residual distance table, then ADC
    pq_books = _collect_books(books)
    m_eff = len(pq_books)
    sub_dim = len(pq_books[0][0][1]) if m_eff else 0

    def _l2sq(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _book_lit(s: int) -> Column:
        parts = []
        for _, cvec in pq_books[s]:
            comps = ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in cvec)
            parts.append(f"array({comps})")
        return F.expr("array(" + ", ".join(parts) + ")")

    def _dt_row(s: int) -> Column:
        qslice = F.slice("__qres", s * sub_dim + 1, sub_dim)
        return F.transform(
            _book_lit(s), lambda cv: F.round(_l2sq(qslice, cv), round_to)
        )

    probes_dt = probes.withColumn(
        "__dt", F.array(*[_dt_row(s) for s in range(m_eff)])
    ).select("query_id", "cent_id", "__dt")

    candidates = (
        enc.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(probes_dt), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc_dist",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(m_eff)),
                    F.lit(0.0),
                    lambda acc, i: acc
                    + F.element_at(
                        F.element_at("__dt", i), F.element_at("codes", i) + 1
                    ),
                ),
                round_to,
            ),
        )
    )
    sl = _topk(candidates, shortlist, "adc_dist", asc=True, rank="__r").select(
        "query_id", "neighbor_id"
    )

    d_full = data.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__dvec"),
    )
    refined = (
        sl.join(d_full, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "l2_dist",
            F.round(_l2sq(F.col("__qvec"), F.col("__dvec")), round_to),
        )
    )
    return _topk(refined, k, "l2_dist", asc=True).select(
        "query_id", "neighbor_id", "l2_dist", "rank"
    )


def random_projection(
    data: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress each
    ``dim``-float embedding to ``out_dim`` components v'_k =
    round(v · P_k, round_to) against deterministic md5-derived
    projection rows (component j of row k = H56("rp{k}:{j}") scaled
    to [-1, 1] — the `_hyperplane` recipe under an "rp" namespace, so
    any engine recomputes the exact same matrix from nothing but the
    seed strings). The cheap dimensionality-reduction prefilter in
    front of exact cosine re-ranking: at 100 TB a 4× narrower vector
    column is a 4× cheaper ANN scan, and JL keeps pairwise distances
    within (1±ε) with high probability.

    Output: (id_col, proj array<double> of out_dim).

    Scale: pure map-side projection — zero shuffle, zero joins; the
    matrix is out_dim SQL literal arrays parsed once driver-side (the
    _centroid_array_expr lesson — never per-component py4j lits)."""
    import hashlib

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comps = []
    for k in range(out_dim):
        row = [
            int(hashlib.md5(f"rp{k}:{j}".encode()).hexdigest()[:14], 16) / float(2**55)
            - 1.0
            for j in range(dim)
        ]
        plane = F.expr(
            "array(" + ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in row) + ")"
        )
        comps.append(F.round(dot(vec, plane), round_to))
    return data.select(F.col(id_col), F.array(*comps).alias("proj"))


def ranking_metrics(
    ranked: DataFrame,
    query_col: str = "query_id",
    rank_col: str = "rank",
    relevant_col: str = "is_relevant",
    k: int = 5,
) -> DataFrame:
    """Retrieval-quality metrics over a ranked candidate list with
    binary relevance labels: per query, CAPPED recall@k — relevant
    found in the top k divided by min(n_relevant, k), the "feasible
    recall" convention where a query with more relevant items than
    slots can still score 1.0 (use n_relevant to derive the uncapped
    form) — precision@k, and
    reciprocal rank of the first relevant hit — the eval harness that
    closes the retrieval loop (bm25_rank / cosine_topk / ivfpq_topk
    produce the rankings; this scores them against labels).

    All three metrics are ratios of exact integer counts (MRR is
    1/first_rank — one IEEE division), rounded to 6 dp — no
    transcendentals, bit-stable on any engine.

    Output: (query_id, n_relevant, recall_at_k, precision_at_k,
    reciprocal_rank); queries with zero relevant candidates emit
    recall/MRR 0.

    Scale: ONE aggregation on the query key — conditional counts and
    a conditional min; candidate lists are k-bounded upstream so the
    group size is tiny by construction."""
    is_rel = F.col(relevant_col).cast("boolean")
    in_k = F.col(rank_col) <= int(k)
    return (
        ranked.groupBy(query_col)
        .agg(
            F.sum(F.when(is_rel, 1).otherwise(0)).alias("n_relevant"),
            F.sum(F.when(is_rel & in_k, 1).otherwise(0)).alias("__hits_k"),
            F.min(F.when(is_rel, F.col(rank_col))).alias("__first"),
        )
        .select(
            query_col,
            "n_relevant",
            F.round(
                F.when(
                    F.col("n_relevant") > 0,
                    F.col("__hits_k")
                    / F.least(F.col("n_relevant"), F.lit(int(k))).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.col("__hits_k") / F.lit(float(k)), 6
            ).alias("precision_at_k"),
            F.round(
                F.when(
                    F.col("__first").isNotNull(),
                    F.lit(1.0) / F.col("__first"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("reciprocal_rank"),
        )
    )


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension embedding drift between two corpus snapshots
    (yesterday's index vs today's, or model v1 vs v2 re-embeds): each
    dimension's mean in both populations and the absolute delta — the
    monitoring primitive that catches a silently changed encoder or a
    shifted corpus before retrieval quality falls off a cliff.

    Determinism: components round to 6 dp and sum as DECIMAL(28,6)
    (exact on any partitioning); the mean division and delta are
    per-dimension IEEE ops in oracle order, rounded to ``round_to``.

    Output: (dim, mean_old, mean_new, abs_delta), one row per vector
    dimension.

    Scale: each side is one map-side posexplode + one aggregation on
    the dimension key (bounded by vector width); the two tiny
    dim-sized frames join at the end."""

    def _dim_means(df, label):
        d6 = F.round(F.col("__x").cast("double"), 6).cast("decimal(28,6)")
        return (
            df.select(F.posexplode(vec_col).alias("dim", "__x"))
            .groupBy("dim")
            .agg(
                F.sum(d6).alias("__s"),
                # count the same expression the sum sees: a NULL vector
                # element must not inflate the denominator
                F.count(d6).alias("__n"),
            )
            .select(
                "dim",
                (F.col("__s").cast("double") / F.col("__n")).alias(label),
            )
        )
    o = _dim_means(old, "__mo")
    n = _dim_means(new, "__mn")
    return o.join(n, "dim").select(
        "dim",
        F.round("__mo", round_to).alias("mean_old"),
        F.round("__mn", round_to).alias("mean_new"),
        F.round(F.abs(F.col("__mo") - F.col("__mn")), round_to).alias("abs_delta"),
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 4.0,
    round_to: int = 4,
    max_dims: int = 4096,
) -> DataFrame:
    """EMBEDDING-SPACE OUTLIER AUDIT — diagonal Mahalanobis: per
    dimension the corpus mean/std (exact decimal sums, the
    ``embedding_drift`` convention), then per vector the standardized
    squared distance z² = Σ_d ((x_d − μ_d)/σ_d)² over the dimensions
    with σ_d > 0, flagged when z² > ``threshold`` · n_active_dims —
    the curation pass that catches corrupt encoders, truncated
    vectors, and off-manifold junk before they poison ANN training
    or retrieval indexes (complements ``embedding_norms``' pure-scale
    view and ``embedding_drift``'s two-snapshot view).

    Determinism: components round to 6 dp and sum as DECIMAL(28,6) /
    DECIMAL(33,12) (exact on any partitioning); μ and σ derive from
    those sums by the same IEEE expression on both engines; each
    per-dim term rounds to 8 dp and sums as DECIMAL(28,8) (no float
    add-order dependence across dims); z² rounds to ``round_to``.
    Constant dimensions (σ = 0, incl. fp-negative variances) are
    excluded from both the sum and the active-dim count. A NULL
    vector keeps its row with NULL z² and ``is_outlier = false``.

    Output: (id, z2, is_outlier).

    Scale: ONE map-side posexplode aggregation bounded by vector
    width, a dim-sized driver collect gated by ``max_dims`` (the
    literal-centroid convention), then a PURE MAP pass — the stats
    enter the plan as literal arrays, so scoring is zero-shuffle
    whole-stage codegen over any corpus size."""
    import math

    # pin the input once: the stats collect and the scoring map are
    # two consumers of df — a non-deterministic input (sample/rand-
    # derived) would otherwise be scored against stats computed from
    # DIFFERENT rows (the exact_global_rank multi-consumer
    # discipline; code-review r16)
    df = df.localCheckpoint(eager=False)
    d6 = F.round(F.col("__x").cast("double"), 6).cast("decimal(28,6)")
    x2 = (d6.cast("decimal(16,6)") * d6.cast("decimal(16,6)")).cast(
        "decimal(33,12)"
    )
    stats = (
        df.select(F.posexplode(vec_col).alias("dim", "__x"))
        .groupBy("dim")
        .agg(
            F.sum(d6).alias("__s"),
            F.sum(x2).alias("__s2"),
            F.count(d6).alias("__n"),
        )
        .collect()
    )
    if len(stats) > int(max_dims):
        raise ValueError(
            f"embedding_outliers: {len(stats)} dimensions exceed "
            f"max_dims={max_dims} — per-dim stats become plan literals; "
            f"raise the gate only if the broadcast is truly intended"
        )
    mu, sd = {}, {}
    for r in stats:
        n = int(r["__n"])
        if n == 0:
            continue
        m = float(r["__s"]) / n
        var = float(r["__s2"]) / n - m * m
        mu[int(r["dim"])] = m
        sd[int(r["dim"])] = math.sqrt(var) if var > 0 else 0.0
    dims = sorted(mu)
    active = [d for d in dims if sd[d] > 0]
    thr = float(threshold) * len(active)
    mu_arr = F.array(*[F.lit(mu[d]) for d in dims])
    sd_arr = F.array(*[F.lit(sd[d]) for d in dims])

    def term(x, i):
        z = (F.round(x.cast("double"), 6) - F.element_at(mu_arr, i + 1)) / (
            F.element_at(sd_arr, i + 1)
        )
        return F.when(
            F.element_at(sd_arr, i + 1) > 0,
            F.round(z * z, 8).cast("decimal(28,8)"),
        ).otherwise(F.lit(0).cast("decimal(28,8)"))

    z2 = F.round(
        F.aggregate(
            F.transform(F.col(vec_col), term),
            F.lit(0).cast("decimal(28,8)"),
            lambda acc, x: (acc + x).cast("decimal(28,8)"),
        ).cast("double"),
        int(round_to),
    )
    return df.select(
        F.col(id_col),
        z2.alias("z2"),
        F.coalesce(z2 > F.lit(thr), F.lit(False)).alias("is_outlier"),
    )


def mips_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact maximum-inner-product top-k (MIPS — the retrieval scoring
    used by dual-encoder/DPR-style models, where vector magnitude
    carries signal and cosine's normalization would erase it): for
    each query vector, the k data vectors with the largest dot
    product, self excluded. Deterministic ranking: rounded dot desc,
    then neighbor id asc.

    At 100 TB the standard ANN reduction applies: augment each data
    vector with sqrt(M² − ‖x‖²) (M = max norm) and each query with 0,
    and MIPS becomes cosine over the augmented space — the IVF/PQ
    scale paths then drop in unchanged. The exact path here is the
    oracle those approximate paths are graded against: the numpy block
    scan of ``_exact_topk``, whose raw dot is bit-equal to ``dot``.
    Pairs with a NULL or NaN dot (a NULL vector or component, vectors
    of unequal length) are dropped.
    """
    return _exact_topk(data, queries, k, id_col, vec_col, round_to, "dot")


def mips_ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate MIPS via the norm-augmentation reduction (Bachrach
    et al. 2014 / Shrivastava-Li asymmetric LSH): every data vector
    gains a coordinate sqrt(M² − ‖x‖²) (M = corpus max norm) and every
    query a 0, which makes augmented-space cosine MONOTONE in the
    original inner product (all augmented data norms equal M) — so the
    cosine IVF machinery routes MIPS candidates unchanged. Routing
    happens in augmented space (deterministic lowest-id centroids,
    nprobe lists per query); the survivors re-score by the TRUE dot
    product of the original vectors. Scanned fraction ≈ nprobe/nlist.

    Output: (query_id, neighbor_id, dot_sim, rank) — same shape as
    ``mips_topk``, against which its recall is graded.

    Scale: one agg for M² (scalar collect), map-side augmentation,
    then exactly the IVF plan — broadcast probes, list-id equi-join,
    per-query rank over scanned candidates only."""

    def sq(c: Column) -> Column:
        return F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    m2_row = data.agg(F.max(sq(F.col(vec_col))).alias("__m2")).collect()[0]
    if m2_row["__m2"] is None:
        raise ValueError("mips_ivf_topk: data must be non-empty")
    m2 = float(m2_row["__m2"])

    def aug_data(c: Column) -> Column:
        return F.concat(
            c, F.array(F.sqrt(F.greatest(F.lit(0.0), F.lit(m2) - sq(c))))
        )

    def aug_query(c: Column) -> Column:
        return F.concat(c, F.array(F.lit(0.0)))

    d = fan_out(data).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__dvec"),
        aug_data(F.col(vec_col)).alias("__daug"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        aug_query(F.col(vec_col)).alias("__qaug"),
    )
    centroids = (
        d.orderBy("neighbor_id")
        .limit(nlist)
        .select(
            F.col("neighbor_id").alias("cent_id"), F.col("__daug").alias("cent_vec")
        )
    )
    cent_arr = _ivf_cent_arr(centroids.collect())  # nlist rows — tiny, deliberate
    assigned = d.select(
        "neighbor_id",
        "__dvec",
        _ivf_nearest_lists(cent_arr, F.col("__daug"), 1)[0]["cent_id"].alias("list_id"),
    )
    probes = q.select(
        "query_id",
        "__qvec",
        F.explode(
            F.transform(
                _ivf_nearest_lists(cent_arr, F.col("__qaug"), nprobe),
                lambda s: s["cent_id"],
            )
        ).alias("list_id"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "dot_sim",
            F.round(dot(F.col("__qvec"), F.col("__dvec")), round_to),
        )
    )
    return _topk(scored, k, "dot_sim", asc=False).select(
        "query_id", "neighbor_id", "dot_sim", "rank"
    )


def l2_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact Euclidean (L2) top-k — the third FAISS metric alongside
    cosine (``brute_force_topk``) and inner product (``mips_topk``),
    completing the trio so a FAISS user can port any flat index:
    for each query, the k data vectors at smallest L2 distance, self
    excluded. Deterministic ranking: rounded distance ASC, then
    neighbor id ASC. The distance is the square root of the left fold
    of ``(x - y)²`` over the components, scored in numpy blocks by
    ``_exact_topk``; pairs with a NULL or NaN distance (a NULL vector
    or component, vectors of unequal length) are dropped."""
    return _exact_topk(data, queries, k, id_col, vec_col, round_to, "l2")


def maxsim_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) document scoring: both
    sides are MULTI-VECTOR documents (one row per vector), and
    score(Q, D) = Σ_{q ∈ Q} max_{v ∈ D} dot(q, v) — each query vector
    finds its best match in the candidate document, which is what
    makes late interaction beat single-vector retrieval on long or
    multi-aspect documents. ``queries`` holds ONE query document's
    vectors; output is the top-k candidate documents.

    Determinism: per-pair dots round to ``round_to`` dp before the
    max (order-free); per-document MaxSim is the exact decimal sum of
    the per-query maxima; ranking ties break on the document id.

    Output: (doc_col, maxsim, rank).

    Scale: the query document is small by construction and broadcast
    (a query carries tens of vectors, not millions); the candidate
    side streams map-side through the dot products, then ONE
    (doc, query-vector) max aggregation and ONE doc-keyed sum — no
    candidate-side self-join, no window over data-sized input except
    the final k-row rank."""
    if queries.limit(1).count() == 0:
        raise ValueError("maxsim_topk: queries must be non-empty")
    # stable small ids for the query vectors: row_number over the
    # vector's string form — content-deterministic, not
    # partition-dependent; the query side is tiny by construction so
    # this unpartitioned window ranks tens of rows
    qw = Window.orderBy(F.col("__qvec").cast("array<double>").cast("string"))
    q = queries.select(F.col(vec_col).alias("__qvec")).withColumn(
        "__qid", F.row_number().over(qw)
    )
    d = fan_out(data).select(
        F.col(doc_col).alias("__doc"), F.col(vec_col).alias("__dvec")
    )
    per_pair = (
        d.crossJoin(F.broadcast(q))
        .withColumn(
            "__dot",
            F.round(dot(F.col("__qvec"), F.col("__dvec")), round_to).cast(
                "decimal(20,6)"
            ),
        )
        .groupBy("__doc", "__qid")
        .agg(F.max("__dot").alias("__best"))
    )
    scored = per_pair.groupBy("__doc").agg(
        F.sum("__best").cast("double").alias("maxsim")
    )
    # orderBy().limit(k) compiles to TakeOrderedAndProject (per-
    # partition top-k + k-row merge); the rank window then sees only
    # the k survivors — the bm25_rank discipline, no data-sized
    # unpartitioned window
    top = scored.orderBy(F.desc("maxsim"), F.col("__doc").asc()).limit(int(k))
    w = Window.orderBy(F.desc("maxsim"), F.col("__doc").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(F.col("__doc").alias(doc_col), "maxsim", "rank")
    )


def mmr_candidate_pool(
    data: DataFrame,
    queries: DataFrame,
    pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """mmr_rerank's pool stage, exposed so the plan guard tests the
    exact frame the rerank executes: the exact top-``pool`` of
    ``brute_force_topk``, cut to ``pool`` rows per query and map
    partition BEFORE the exchange by the window's partial limit."""
    return brute_force_topk(
        data, queries, k=int(pool), id_col=id_col, vec_col=vec_col,
        round_to=round_to,
    ).select("query_id", "neighbor_id", "cos_sim")


def mmr_rerank(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE rerank (Carbonell & Goldstein 1998)
    — the diversity-aware top-k every RAG/search stack bolts onto a
    similarity index: greedily pick k results maximizing
    λ·rel(q, d) − (1−λ)·max_{s∈selected} sim(d, s), so near-duplicate
    hits stop crowding out coverage. Step 1 is pure relevance (empty
    selected set ⇒ penalty 0).

    Output: (query_id, step, neighbor_id, mmr_score) — k rows per
    query in pick order; ``mmr_score`` is the 6-dp score at pick time.

    Determinism: relevance and candidate-candidate cosines round to
    ``round_to`` first; the greedy argmax breaks score ties by
    neighbor_id; λ arithmetic is written λ·rel − (1.0 − λ)·penalty in
    BOTH engines (the oracle unrolls the same k steps).

    Scale: the candidate pool is the exact top-``pool`` of
    ``brute_force_topk`` — the window's partial limit cuts every map
    partition to ``pool`` rows per query BEFORE the exchange, so the
    ranking window sees partitions × queries × pool rows instead of
    the full scored stream. After the pool, EVERYTHING is bounded per
    query: the pairwise-sim frame is pool² rows/query, each greedy
    step is one equi-join + one query-keyed window over ≤pool
    rows/query, all queries advancing in parallel — the k-step loop
    costs k tiny shuffles, never a driver-side collect."""
    if int(k) < 1 or int(pool) < int(k):
        raise ValueError(
            f"mmr_rerank: need 1 <= k <= pool (got k={k}, pool={pool})"
        )
    lam = float(lam)
    cands = mmr_candidate_pool(
        data, queries, pool=int(pool), id_col=id_col, vec_col=vec_col,
        round_to=round_to,
    )
    vecs = data.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vec")
    ).withColumn("__n", norm(F.col("__vec")))
    cv = cands.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "cos_sim", "__vec", "__n"
    )
    a, b = cv.alias("a"), cv.alias("b")
    # the lazy pins go through the scope too: the picks are eager
    # checkpoints, so the result reads neither of them
    pins = Pins("mmr_rerank")
    pair = pins.pin(
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("nid_a"),
            F.col("b.neighbor_id").alias("nid_b"),
            F.round(
                dot(F.col("a.__vec"), F.col("b.__vec"))
                / (F.col("a.__n") * F.col("b.__n")),
                round_to,
            ).alias("sim"),
        ),
        eager=False,
    )
    rel = pins.pin(cands, eager=False)

    selected: DataFrame | None = None
    for step in range(1, int(k) + 1):
        if selected is None:
            scored = rel.withColumn(
                "__score",
                F.lit(lam) * F.col("cos_sim")
                - (F.lit(1.0) - F.lit(lam)) * F.lit(0.0),
            )
        else:
            ms = (
                pair.join(
                    selected.select(
                        "query_id", F.col("neighbor_id").alias("nid_b")
                    ),
                    ["query_id", "nid_b"],
                )
                .groupBy("query_id", F.col("nid_a").alias("neighbor_id"))
                .agg(F.max("sim").alias("__ms"))
            )
            remaining = rel.join(
                selected.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_anti",
            )
            scored = remaining.join(
                ms, ["query_id", "neighbor_id"]
            ).withColumn(
                "__score",
                F.lit(lam) * F.col("cos_sim")
                - (F.lit(1.0) - F.lit(lam)) * F.col("__ms"),
            )
        pick = pins.pin(
            _topk(scored, 1, "__score", asc=False, rank="__rn").select(
                "query_id",
                F.lit(step).alias("step"),
                "neighbor_id",
                F.round(F.col("__score"), 6).alias("mmr_score"),
            )
        )
        selected = pick if selected is None else selected.unionByName(pick)
    return pins.result(selected)


def binarize_embeddings(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """SIGN-BIT BINARIZATION — the 32x compression trick production
    vector stores ship (binary quantization): bit j of a vector is
    1 iff component j > 0, packed ``word_bits`` per long so Hamming
    distance computes as popcount(xor) per word. 32-bit words (not
    64) keep every packed value a SMALL positive long: the bits sum
    as exact powers of two with no sign-bit wraparound, so the packed
    words are engine-identical integers (DuckDB mirrors with
    pow(2, j)::BIGINT sums).

    Output: (id_col, words array<long>) — ceil(dim/word_bits) words.

    Scale: pure map-side expression, no shuffle, no UDF."""
    if int(dim) < 1:
        raise ValueError(f"binarize_embeddings: dim must be >= 1 (got {dim})")
    wb = int(word_bits)
    n_words = (int(dim) + wb - 1) // wb
    c = F.col(vec_col)

    def word(w: int) -> Column:
        lo, hi = w * wb, min((w + 1) * wb, int(dim))
        idx = F.sequence(F.lit(lo), F.lit(hi - 1))
        return F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at(c, i + 1) > 0,
                F.pow(F.lit(2.0), i - F.lit(lo)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    return df.select(
        F.col(id_col), F.array(*[word(w) for w in range(n_words)]).alias("words")
    )


def hamming_topk(
    data: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-embedding top-k: binarize both sides (sign bits packed
    32/long) and rank by HAMMING distance — popcount(xor) summed over
    the packed words, the integer-exact distance binary vector search
    runs. Ties break by neighbor id; every distance is an exact
    integer, so the ranking is engine-identical with no rounding bets.

    Output: (query_id, neighbor_id, hamming, rank).

    Scale: packing is map-side and the query side broadcasts."""
    d = binarize_embeddings(data, dim, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("words").alias("__dw")
    )
    q = binarize_embeddings(queries, dim, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col("words").alias("__qw")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("__dw"),
            F.col("__qw"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham)
    )
    return _topk(scored, k, "hamming", asc=True).select(
        "query_id", "neighbor_id", "hamming", "rank"
    )


def binary_rerank_topk(
    data: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    prefilter_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """BINARY-PREFILTER → EXACT-RERANK cascade — the production
    binary-quantization serving pattern (rank the corpus by the 32×-
    compressed sign-bit Hamming distance, then re-score ONLY the
    oversampled shortlist with exact float cosine; recall loss is
    bounded by the ``prefilter_factor`` oversample, the dial every
    binary-quantized vector store exposes).

    Stage 1: ``hamming_topk`` keeps k × prefilter_factor candidates
    per query — integer distances with id tie-break, so the shortlist
    boundary is deterministic and engine-identical.
    Stage 2: the shortlist joins back to the raw vectors and re-ranks
    by exact cosine (``round_to``-dp rounded, desc, id tie-break);
    candidates with an undefined cosine drop in the rerank — the
    ``_topk`` NULL/NaN contract.

    Output: (query_id, neighbor_id, hamming, cos_sim, rank ≤ k).

    Scale: the corpus is scanned once map-side by the packed-word
    Hamming stage (queries broadcast); the float vectors of the
    corpus are touched only via the shortlist join — the shortlist
    (queries × k·factor rows) broadcasts to the data side, so the
    full-precision embedding column never shuffles. This is the
    architectural point of the cascade at 100 TB: the exact-cosine
    stage's input is shortlist-sized, not corpus-sized."""
    if int(prefilter_factor) < 1:
        raise ValueError(
            "binary_rerank_topk: prefilter_factor must be >= 1 "
            f"(got {prefilter_factor})"
        )
    m = int(k) * int(prefilter_factor)
    cand = hamming_topk(
        data, queries, dim, k=m, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", "hamming")
    dvec = data.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__dvec")
    ).withColumn("__dn", norm(F.col("__dvec")))
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qn", norm(F.col("__qvec")))
    scored = (
        dvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cos_sim", _hoisted_cosine(int(round_to)))
    )
    return _topk(scored, k, "cos_sim", asc=False).select(
        "query_id", "neighbor_id", "hamming", "cos_sim", "rank"
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    c: int = 60,
    keys: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """RECIPROCAL RANK FUSION (Cormack et al. 2009) — the hybrid-search
    combiner: every input ranking contributes 1/(c + rank) per
    candidate and the fused order is the contribution sum. Rank-based,
    so wildly different score scales (BM25 vs cosine vs Hamming) fuse
    without calibration; a candidate missing from a ranking simply
    contributes nothing.

    Determinism: each 1/(c+rank) rounds to a 12-dp decimal and the
    contributions sum as DECIMAL — exact and order-free, so the fused
    ordering carries no float-accumulation-order risk; final ties
    break by the key columns.

    Output: key columns + (rrf_score, rank), top ``k`` per query
    group (all key columns except the last are the query grouping).

    Scale: one union + one keyed aggregation + a query-keyed ranking
    window over the union of per-ranking top lists (bounded by
    rankings x their k)."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    keys = keys or ["query_id", "neighbor_id"]
    if len(keys) < 2:
        # keys[:-1] is the ranking window's partition: a single key
        # would make it an unpartitioned data-sized sort
        raise ValueError(
            "rrf_fuse: keys needs a query grouping plus the candidate id "
            f"(got {keys!r}) — a single key would fuse through one global "
            "window"
        )
    contrib = F.round(
        F.lit(1.0) / (F.lit(float(int(c))) + F.col(rank_col).cast("double")), 12
    ).cast("decimal(18,12)")
    parts = [r.select(*keys, contrib.alias("__c")) for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(*keys).agg(F.sum("__c").alias("__s"))
    w = Window.partitionBy(*keys[:-1]).orderBy(
        F.col("__s").desc(), *[F.col(kc).asc() for kc in keys]
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            *keys,
            F.col("__s").cast("double").alias("rrf_score"),
            "rank",
        )
    )


def matryoshka_recall(
    data: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MATRYOSHKA prefix-dimension retrieval eval (Kusupati et al.
    2022): how much recall survives truncating every embedding to its
    first ``prefix_dim`` coordinates? Runs the exact cosine top-k
    twice — full vectors as truth, sliced prefixes as candidate — and
    reports per-query overlap/k, the number that decides whether the
    cheap prefix index is shippable.

    Output: (query_id, n_hits, recall) — recall = |prefix∩full| / k.

    Determinism: both rankings are the deterministic
    ``brute_force_topk`` (rounded cosine, id tie-break); recall is an
    integer ratio.

    Scale: two broadcast-query scans, each cut to k rows per query and
    map partition before its exchange, + one k-row-per-query
    equi-join."""
    if int(prefix_dim) < 1:
        raise ValueError(
            f"matryoshka_recall: prefix_dim must be >= 1 (got {prefix_dim})"
        )
    sliced = F.slice(F.col(vec_col), 1, int(prefix_dim)).alias(vec_col)
    full = brute_force_topk(
        data, queries, k=int(k), id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    pref = brute_force_topk(
        data.select(F.col(id_col), sliced),
        queries.select(F.col(id_col), sliced),
        k=int(k),
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    hits = full.join(pref, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("__h"))
    base = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("__k"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("__h"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("__h"), F.lit(0)).cast("double")
                / F.col("__k").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def ivf_recall_curve(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobes: list[int] | None = None,
    floors: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN TUNING CURVE — recall@k of the IVF index across a sweep of
    ``nprobes`` against the exact top-k, the measurement that picks
    the latency/recall operating point before a 100 TB index build
    commits to one. Recall must be NON-DECREASING in nprobe (probing
    more lists can only add candidates — violating this means the
    index is broken, not mistuned), and each sweep point is judged
    against its ``floors`` entry (the ``ivf_topk`` verdict contract:
    deterministic centroids make the booleans reproducible, and the
    oracle checks the verdicts rather than replaying k-means).

    Output: one row per nprobe — (nprobe, n_queries, k, floor,
    recall_floor_ok, monotone_ok) where monotone_ok states hits(this
    nprobe) >= hits(every smaller nprobe).

    Scale: |nprobes| independent probed-list searches over the SAME
    trained index (centroids train once); each is ivf_topk's bounded
    plan; the exact baseline is one brute-force top-k reused across
    the sweep."""
    raw_nps = list(nprobes or [1, 2, 4])
    raw_fls = list(floors or [0.2] * len(raw_nps))
    if len(raw_fls) != len(raw_nps):
        raise ValueError(
            f"ivf_recall_curve: floors must match nprobes "
            f"({len(raw_fls)} vs {len(raw_nps)})"
        )
    # pair BEFORE sorting: a caller passing unsorted nprobes keeps
    # each floor glued to ITS nprobe (sorting the nprobes alone would
    # silently apply the floors to the wrong sweep points)
    pairs = sorted(zip(raw_nps, raw_fls))
    nps = [p[0] for p in pairs]
    fls = [p[1] for p in pairs]
    n_q = queries.count()
    pins = Pins("ivf_recall_curve")
    exact = pins.pin(
        brute_force_topk(
            data, queries, k=k, id_col=id_col, vec_col=vec_col
        ).select("query_id", "neighbor_id")
    )
    rows = []
    spark = data.sparkSession
    # the trained index is SHARED across sweep points (docstring): the
    # centroid collect and the assigned/normed corpus pass are
    # nprobe-independent, so build them once via the SAME construction
    # ivf_topk uses (_ivf_prepare — ADVICE r17: a hand-copied
    # assignment expression would silently desynchronize the sweep
    # from the operator it measures) and checkpoint the assignment —
    # each sweep point then pays only its probes + join.
    cent_rows, assigned = _ivf_prepare(data, nlist, id_col, vec_col)
    assigned = pins.pin(assigned)
    hits_by_np = {}
    for np_ in nps:
        approx = ivf_topk(
            data, queries, k=k, nlist=nlist, nprobe=np_,
            id_col=id_col, vec_col=vec_col,
            _prepared=(cent_rows, assigned),
        ).select("query_id", "neighbor_id")
        hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
        hits_by_np[np_] = hits
    for np_, fl in zip(nps, fls):
        h = hits_by_np[np_]
        rows.append(
            (
                int(np_),
                int(n_q),
                int(k),
                float(fl),
                h >= fl * n_q * k,
                all(h >= hits_by_np[m] for m in nps if m < np_),
            )
        )
    return pins.result(
        spark.createDataFrame(
            rows,
            "nprobe int, n_queries int, k int, floor double, "
            "recall_floor_ok boolean, monotone_ok boolean",
        )
    )
