"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (no Python UDFs): language-ID
(stopword-hit heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. Every operator is embarrassingly parallel — no
shuffle — so it scales linearly with input splits at 100 TB.

Cross-engine determinism: each transform is chosen to be expressible
in ANSI-ish SQL (DuckDB oracle parity; see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under `from __future__ import annotations`

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import Pins

# Tiny per-language stopword inventories for the n-gram/stopword
# language heuristic. Deliberately small + deterministic (the point is
# the operator shape, not linguistic accuracy).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "que", "est"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "una", "es"],
    "de": ["der", "die", "und", "das", "ein", "ist", "von", "mit", "den", "zu"],
}


def h56(col: Column) -> Column:
    """56-bit deterministic hash: first 14 hex chars of md5 as int64.
    DuckDB parity: ('0x' || substr(md5(x),1,14))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, empties removed (split parity with DuckDB
    string_split + list_filter)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count."""
    return df.withColumn(out, F.size(tokens_col(F.col(text_col))))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token estimate via word-piece regex: runs of up to 4
    letters, runs of digits, or single non-space symbols each count as
    one token. Approximates subword tokenizer counts without a vocab."""
    return df.withColumn(
        out,
        F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]")),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, mean word length,
    punctuation ratio, English-stopword ratio, and a composite score.
    Mirrors the C4/Gopher-style cheap quality filters."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(LANG_STOPWORDS["en"])))
    mean_word_len = F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    score = (
        F.when((n_tok >= 10) & (n_tok <= 100_000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("mean_word_len", F.round(mean_word_len, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("quality", F.round(score, 2))
    )


def lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-hit language heuristic: the language with the highest
    stopword-hit count wins; ties break lexicographically; no hits →
    'und'. Stays fully vectorized: one pass builds per-language hit
    counts, greatest-of picks the winner."""
    toks = tokens_col(F.lower(F.col(text_col)))

    def _hits(sw: list[str]):
        # closure, not a default arg: PySpark derives lambda arity from
        # the signature, so extra defaulted params break higher-order fns
        return F.size(F.filter(toks, lambda t: t.isin(sw)))

    hit_cols = {lang: _hits(sw) for lang, sw in LANG_STOPWORDS.items()}
    # encode (hits, lang) so greatest() is deterministic: higher hits
    # win; on equal hits the lexicographically-SMALLER lang wins, so
    # invert the lang ordering inside the struct
    best = None
    for lang in sorted(LANG_STOPWORDS):  # later (greater) langs lose ties
        cand = F.struct(
            hit_cols[lang].alias("hits"),
            F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("tie"),
            F.lit(lang).alias("lang"),
        )
        best = cand if best is None else F.greatest(best, cand)
    return df.withColumn(
        out, F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def lang_id_confidence(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``lang_id`` with a CONFIDENCE column: the winning language's
    stopword-hit share of ALL stopword hits (best / total) — the
    probability-shaped score a calibration audit needs (feed to
    ``calibration_bins`` against pred == truth). The winner column
    comes from ``lang_id`` ITSELF (no duplicated tie-break logic to
    drift out of sync); the confidence needs only the hit counts —
    the winner's count is ``greatest`` of them, tie-break-free by
    construction (equal-hit ties share the max). Zero hits → 'und'
    with NULL confidence, so un-scoreable rows stay un-scored (the
    calibration NULL contract). Pure map-side, one pass.

    Output: original columns + (lang_pred, lang_conf ∈ (0, 1], 6 dp).
    """
    toks = tokens_col(F.lower(F.col(text_col)))

    def _hits(sw: list[str]):
        return F.size(F.filter(toks, lambda t: t.isin(sw)))

    hit_cols = [_hits(sw) for _, sw in sorted(LANG_STOPWORDS.items())]
    total = hit_cols[0]
    for h in hit_cols[1:]:
        total = total + h
    best_hits = F.greatest(*hit_cols)
    return lang_id(df, text_col=text_col, out="lang_pred").withColumn(
        "lang_conf",
        F.when(
            total > 0,
            F.round(best_hits.cast("double") / total.cast("double"), 6),
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 over the sorted distinct
    token set (content fingerprint robust to word order/duplication —
    the batch analog of a winnowed rolling hash)."""
    toks = F.array_sort(F.array_distinct(tokens_col(F.lower(F.col(text_col)))))
    return df.withColumn(out, F.md5(F.array_join(toks, " ")))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowed rolling-hash fingerprint (the MOSS scheme): hash every
    k-char gram, slide a window of ``window`` consecutive gram hashes,
    select each window's minimum, and fingerprint the distinct selected
    set. Guarantees any shared substring of length >= k + window - 1
    contributes a shared selected hash — the plagiarism/near-dup
    primitive that survives local edits, unlike a whole-document hash.

    Output: (id, n_grams, n_selected, winnow_fp) where winnow_fp is the
    md5 over the sorted distinct selected hashes. Map-side only — no
    shuffle, linear in input splits at 100 TB.

    Physical shape: an Arrow-batched pandas_udf. The declarative form
    (nested transform/slice array expressions) re-evaluates the k-gram
    hash array once per window element in Catalyst's interpreter
    (higher-order lambdas don't codegen or CSE) and measured ~1 s/doc;
    the same math in Python with numpy sliding-window minima is
    ~10,000× faster and hash-identical (md5 on UTF-8, like both Spark
    and the DuckDB oracle).

    Docs shorter than k chars degrade to a single whole-text hash.
    """
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _h56(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:14], 16)

    @pandas_udf("struct<n_grams:int,n_selected:int,winnow_fp:string>")
    def _winnow(texts: pd.Series) -> pd.DataFrame:
        out = []
        for text in texts:
            t = (text or "").lower()
            if len(t) >= k:
                grams = np.fromiter(
                    (_h56(t[i : i + k]) for i in range(len(t) - k + 1)),
                    dtype=np.int64,
                )
            else:
                grams = np.array([_h56(t)], dtype=np.int64)
            if len(grams) > window:
                mins = np.lib.stride_tricks.sliding_window_view(grams, window).min(
                    axis=1
                )
            else:
                mins = grams.min(keepdims=True)
            sel = np.unique(mins)
            fp = hashlib.md5(",".join(str(x) for x in sel).encode()).hexdigest()
            out.append((len(grams), len(sel), fp))
        return pd.DataFrame(out, columns=["n_grams", "n_selected", "winnow_fp"])

    from ..sources import fan_out

    return (
        fan_out(df)
        .select(F.col(id_col), _winnow(F.col(text_col)).alias("__w"))
        .select(id_col, "__w.n_grams", "__w.n_selected", "__w.winnow_fp")
    )


def normalized_text(text: Column) -> Column:
    """Canonical text for exact-dedup hashing: lowercase, collapse
    whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


BPE_SEP = "\x1f"


def bpe_learn_merges(
    df: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-trained BPE merge rules (Sennrich et al. 2016) — the
    tokenizer-TRAINING stage of a data pipeline, DataFrame-native:
    start from characters, repeatedly count adjacent symbol pairs
    across the corpus (weighted by word frequency) and merge the most
    frequent pair, ``rounds`` times.

    Output: (round, merge_a, merge_b, pair_count) — one row per
    learned merge rule, the artifact a tokenizer builds its vocab
    from.

    Physical shape per round: ONE aggregation over the distinct-word
    frequency table (pairs exploded per word — map-side combinable,
    the shuffle carries pair partial counts, never word occurrences) +
    a 1-row argmax collect; the merge application is a map-side
    literal string replace. The word-frequency table is computed once
    and localCheckpointed: corpus tokens shuffle exactly once total,
    regardless of ``rounds``.

    Determinism contract (mirrored by the DuckDB oracle): the winning
    pair breaks count ties on (merge_a, merge_b) ascending; merge
    application is ONE left-to-right non-overlapping literal replace
    of ``SEP·a·SEP·b·SEP`` per word per round — for runs of repeated
    symbols this merges fewer occurrences than ideal BPE within the
    round (the seam separator is consumed), which is identical in
    both engines and self-corrects in later rounds.
    """
    spark = df.sparkSession
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = (
        df.select(F.explode(tokens_col(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sep = F.lit(BPE_SEP)
    wrapped = F.concat(
        sep, F.array_join(F.split(F.col("word"), ""), BPE_SEP), sep
    )
    pins = Pins("bpe_learn_merges")
    state = pins.pin(words.select(wrapped.alias("w"), "cnt"))

    out_rows = []
    for r in range(1, max(0, rounds) + 1):
        syms = F.filter(F.split(F.col("w"), BPE_SEP), lambda s: s != "")
        pairs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("a"),
                    F.element_at(syms, i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (
            state.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()  # 1 row — the argmax, deliberate
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["pair_count"]
        out_rows.append((r, a, b, int(cnt)))
        state, _ = pins.advance(
            state,
            state.select(
                F.replace(
                    F.col("w"),
                    F.lit(f"{BPE_SEP}{a}{BPE_SEP}{b}{BPE_SEP}"),
                    F.lit(f"{BPE_SEP}{a}{b}{BPE_SEP}"),
                ).alias("w"),
                "cnt",
            ),
        )

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return pins.result(
        spark.createDataFrame(
            out_rows,
            StructType(
                [
                    StructField("round", IntegerType(), True),
                    StructField("merge_a", StringType(), True),
                    StructField("merge_b", StringType(), True),
                    StructField("pair_count", LongType(), True),
                ]
            ),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    col: str = "name",
    max_dist: int = 2,
    qgram: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Fuzzy record-linkage pairs: DISTINCT values of ``col`` whose
    Levenshtein distance is <= ``max_dist``, found without an
    all-pairs scan — candidates must share at least one character
    q-gram (the classic q-gram blocking of record-linkage systems),
    then verify with the exact JVM ``levenshtein``.

    Output: (name_a, name_b, edit_dist), name_a < name_b.

    CANDIDATE semantics (like the LSH pair ops): a pair of strings so
    different in composition that they share no q-gram is not
    emitted — for strings with len >= qgram + max_dist·qgram the
    q-gram count filter guarantees a shared gram, so blocking is
    lossless there; shorter strings fall back to their whole-string
    gram. ``max_df`` drops q-grams appearing in more than that many
    distinct values (stop-gram pruning — the ngram_jaccard posture);
    None keeps all.

    Scale: distinct-value table (one agg) → q-gram explode (bounded:
    len(s) grams/value) → equi-join on the gram → distinct candidate
    pairs → O(len²) verify only on candidates. The verify join's key
    is the gram hash — uniform unless a stop-gram survives, which is
    what ``max_df`` is for."""
    names = df.select(F.col(col).alias("name")).filter(F.col("name").isNotNull()).distinct()
    grams = names.select(
        "name",
        F.explode(
            F.when(
                F.length("name") >= qgram,
                F.transform(
                    F.sequence(F.lit(1), F.length("name") - qgram + 1),
                    lambda i: F.col("name").substr(i, F.lit(qgram)),
                ),
            ).otherwise(F.array(F.col("name")))
        ).alias("g"),
    ).distinct()
    if max_df is not None:
        keep = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("g")
        )
        grams = grams.join(keep, "g", "left_semi")
    cands = (
        grams.alias("a")
        .join(grams.alias("b"), "g")
        .filter(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )
    return (
        cands.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(
            (F.col("edit_dist") <= max_dist)
            # free exact filter: the length difference lower-bounds lev
            & ((F.length("name_a") - F.length("name_b")).between(-max_dist, max_dist))
        )
        .select("name_a", "name_b", "edit_dist")
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Apply learned BPE merge rules (``bpe_learn_merges`` output) to
    the corpus — the tokenizer-APPLY stage that closes the loop:
    learn merges on the corpus, then encode every document under the
    learned vocabulary (the shape a pipeline uses to materialize
    token counts/sequences for packing and budgeting).

    Output: one row per non-empty document —
    (id_col, n_words, n_symbols, encoded) where ``encoded`` is the
    space-joined symbol sequence in word order (fingerprintable) and
    ``n_symbols`` shrinks as rules merge pairs.

    Determinism: rules apply in ROUND order, each as the same single
    left-to-right non-overlapping ``SEP·a·SEP·b·SEP`` literal replace
    the learner used (identical in DuckDB); word order is restored by
    an explicit (pos, symbols) sort inside the doc — never collect_list
    arrival order.

    Scale: the rule table is hyperparameter-sized (collected to
    literals — the kmeans/centroid posture); encoding is a map-side
    per-word string-replace chain; the only shuffle is the per-doc
    reassembly groupBy."""
    rules = sorted(
        (r["round"], r["merge_a"], r["merge_b"]) for r in merges.collect()  # tiny
    )
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = df.select(
        F.col(id_col), F.posexplode(tokens_col(text)).alias("pos", "word")
    )
    w = F.concat(
        F.lit(BPE_SEP), F.array_join(F.split(F.col("word"), ""), BPE_SEP), F.lit(BPE_SEP)
    )
    for _, a, b in rules:
        w = F.replace(
            w,
            F.lit(f"{BPE_SEP}{a}{BPE_SEP}{b}{BPE_SEP}"),
            F.lit(f"{BPE_SEP}{a}{b}{BPE_SEP}"),
        )
    syms = F.filter(F.split(w, BPE_SEP), lambda s: s != "")
    per_word = words.select(
        id_col,
        F.struct(F.col("pos"), F.array_join(syms, " ").alias("s")).alias("ws"),
        F.size(syms).alias("n_syms"),
    )
    return per_word.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_syms").alias("n_symbols"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("ws")), lambda x: x["s"]), " "
        ).alias("encoded"),
    )


def bm25_rank(
    df: DataFrame,
    query_tokens: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """BM25 document ranking for a literal query token set — the
    search-engine relevance baseline (Robertson/Spärck Jones; the
    Lucene idf variant ln(1 + (N − df + 0.5)/(df + 0.5))) that
    complements TF-IDF's per-doc top terms with query-time scoring.

    Output: the top ``k`` docs as (id_col, bm25, rank), ranked by
    (rounded score desc, id asc) — deterministic at ties.

    Physical shape: ONE corpus aggregation produces every global
    statistic (N, total token count, and per-query-term document
    frequencies as conditional sums — the query is hyperparameter-
    sized, so df_t are columns, not a term-table join); the 1-row
    stats frame broadcasts back and scoring is a map-side expression
    per document (per-term tf via array filters on the literal
    tokens). No explode, no term join. The top-k itself is
    ``orderBy(...).limit(k)`` — Spark compiles that to
    TakeOrderedAndProject, a per-partition top-k reduction followed
    by a k·partitions-row merge, so a common query term never
    funnels the whole posting set through one ranking reducer (as
    the similarity top-k's partial ``WindowGroupLimit`` does per
    query); the rank column is then
    assigned by a window over the k surviving rows only.

    Determinism: dl/avgdl evaluates as (dl·N)/total_len — integer
    cross-multiplication then ONE double division, identical in any
    engine; per-term contributions add in fixed query order; the
    score rounds to ``round_to`` before ranking."""
    terms = list(dict.fromkeys(query_tokens))  # dedupe, keep order
    toks = tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__dl", F.size("__toks")
    )
    stat_exprs = [
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").cast("long").alias("__total_len"),
    ]
    for i, t in enumerate(terms):
        stat_exprs.append(
            F.sum(F.array_contains("__toks", t).cast("long")).alias(f"__df_{i}")
        )
    stats = base.agg(*stat_exprs)
    scored = base.crossJoin(F.broadcast(stats))
    ratio = (
        (F.col("__dl").cast("long") * F.col("__n_docs")).cast("double")
        / F.col("__total_len").cast("double")
    )
    def _tf(term: str) -> Column:
        # closure, not a defaulted lambda param: PySpark derives lambda
        # arity from the signature, and a second param would silently
        # select the (element, index) form (see lang_id._hits)
        return F.size(F.filter(F.col("__toks"), lambda x: x == term)).cast("double")

    score = None
    for i, t in enumerate(terms):
        tf = _tf(t)
        # N, df are integer-valued doubles far below 2^52, so the
        # additions are exact and association-order-free cross-engine
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n_docs").cast("double") - F.col(f"__df_{i}") + 0.5)
            / (F.col(f"__df_{i}").cast("double") + 0.5)
        )
        term_score = idf * (
            tf * F.lit(float(k1) + 1.0)
        ) / (tf + F.lit(float(k1)) * (F.lit(1.0 - float(b)) + F.lit(float(b)) * ratio))
        score = term_score if score is None else score + term_score
    if score is None:
        score = F.lit(0.0)
    ranked = scored.select(
        id_col, F.round(score, round_to).alias("bm25")
    ).filter(F.col("bm25") > 0)
    # TakeOrderedAndProject: each map partition keeps its local top-k,
    # the merge sees only partitions×k rows — never a global window
    # over every matching document
    topk = ranked.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(int(k))
    w = Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(w))


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form for dedup: lowercase, drop the fragment,
    drop the http(s) scheme, drop a leading ``www.``, drop one
    trailing slash. Pure sequential regexp_replace chain — identical
    in any RE2/Java-regex engine (no lookaround), map-side."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"#.*$", "")        # fragment
    u = F.regexp_replace(u, r"^https?://", "")  # scheme
    u = F.regexp_replace(u, r"^www\.", "")      # www prefix
    u = F.regexp_replace(u, r"/$", "")          # trailing slash
    return u


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """One surviving row per CANONICAL url (lowest id wins — the
    exact_dedup convention): the crawl-frontier dedup that collapses
    http/https, www, fragment, and trailing-slash variants of the
    same page before any content fetch. One ranked-window shuffle on
    the canonical-url hash; survivors keep their original url plus
    the canonical form."""
    w = Window.partitionBy("__canon").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__canon", canonicalize_url(F.col(url_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed("__canon", "canonical_url")
    )


# accent-fold table for normalize_text: one-to-one char translation
# (expressible as `translate` in any engine — no ICU dependency)
_ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüýÿñç"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuyync"


def normalize_text(
    df: DataFrame, text_col: str = "text", out: str = "text_norm"
) -> DataFrame:
    """Canonical text form for hashing/dedup/matching: lowercase,
    one-to-one accent fold (explicit translate table — deterministic
    everywhere, unlike locale-dependent ICU normalization), control
    characters dropped, whitespace runs collapsed to single spaces,
    ends trimmed. Pure map-side column chain (zero shuffle); the
    regexes avoid lookaround so Java regex and RE2 agree."""
    t = F.lower(F.col(text_col))
    t = F.translate(t, _ACCENT_SRC, _ACCENT_DST)
    t = F.regexp_replace(t, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return df.withColumn(out, F.trim(t))


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Corpus-level pointwise mutual information of ADJACENT token
    pairs — the collocation/keyphrase-mining primitive ("new york"
    scores high, "of the" scores low) used to seed tokenizer vocab
    merges and phrase-aware dedup shingles.

    PMI = ln( p(a,b) / (p(a) p(b)) ) with p(a,b) over the bigram
    population and p(a)/p(b) over the token population, computed from
    EXACT integer counts and rounded to 6 dp; the single ln per output
    row is evaluated in the identical operand order as the SQL oracle,
    so IEEE doubles agree bit-for-bit.

    Output: (token_a, token_b, n_pair, pmi), pairs with
    n_pair >= ``min_count``.

    Scale: tokens explode map-side; bigrams come from ONE window lead
    over (doc, position) — no positional self-join of the exploded
    frame; the three count aggregations shuffle on token keys and the
    two global totals broadcast back as literal-sized frames."""
    toks = (
        df.select(
            F.col(doc_col).alias("d"),
            F.posexplode(tokens_col(F.col(text_col))).alias("i", "tok"),
        )
    )
    w = Window.partitionBy("d").orderBy("i")
    bigrams = (
        toks.withColumn("tok_b", F.lead("tok").over(w))
        .filter(F.col("tok_b").isNotNull())
        .select(F.col("tok").alias("token_a"), F.col("tok_b").alias("token_b"))
    )
    n_tok = toks.agg(F.count(F.lit(1)).alias("n_tok"))
    n_big = bigrams.agg(F.count(F.lit(1)).alias("n_big"))
    uni = toks.groupBy(F.col("tok")).agg(F.count(F.lit(1)).alias("n_uni"))
    pair = (
        bigrams.groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_count))
    )
    return (
        # vocab joins stay un-hinted: the unigram frame is vocab-sized
        # (Heaps' law — sublinear in corpus size) so AQE broadcasts it
        # when it fits and falls back to a token-keyed hash join when a
        # web-scale vocab doesn't
        pair.join(uni.withColumnRenamed("tok", "token_a")
                  .withColumnRenamed("n_uni", "n_a"), "token_a")
        .join(uni.withColumnRenamed("tok", "token_b")
              .withColumnRenamed("n_uni", "n_b"), "token_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            "token_a",
            "token_b",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") * 1.0 * F.col("n_tok") * F.col("n_tok"))
                    / (F.col("n_big") * 1.0 * F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_df: int = 2,
    max_postings: int = 20,
) -> DataFrame:
    """Inverted index over whitespace tokens: per term, its document
    frequency and the first ``max_postings`` posting doc ids (sorted
    ascending, comma-joined) — the retrieval-side complement to
    ``bm25_rank`` (which scores ad-hoc queries without materializing
    an index; this materializes the index a serving layer would ship).

    Deterministic: postings are the SORTED distinct doc ids truncated
    after sorting, so the string is reproducible on any partitioning.

    Scale: tokens explode map-side; one aggregation on the term key.
    ``max_postings`` bounds the per-term payload (df stays exact), so
    a stop-word's row cannot balloon — the full posting list of a hot
    term belongs in a posting-sharded layout, not one row."""
    toks = df.select(
        F.col(doc_col).alias("d"),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    )
    return (
        toks.groupBy("term")
        .agg(F.collect_set("d").alias("__docs"))
        .select(
            "term",
            F.size("__docs").alias("df"),
            F.array_join(
                F.slice(F.sort_array("__docs"), 1, int(max_postings)), ","
            ).alias("postings"),
        )
        .filter(F.col("df") >= int(min_df))
    )


def feature_hashing(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Hashing-trick features: every token hashes (H56 mod
    ``n_buckets``) into a fixed bucket space and the per-(doc, bucket)
    counts come back in long format — the vocabulary-free
    featurization (Weinberger et al.) that needs no fitted dictionary
    and never OOVs, the cheap baseline feeding the in-engine logistic
    classifier.

    Long format (doc_id, bucket, n) rather than a dense array: sparse
    by construction, join-able, and exactly comparable across engines.

    Scale: map-side explode + ONE aggregation on the (doc, bucket)
    key; output is bounded by rows x min(tokens, n_buckets)."""
    toks = df.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    return (
        toks.withColumn("bucket", (h56(F.col("tok")) % int(n_buckets)).cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def rake_keywords(
    df: DataFrame,
    stopwords: list[str] | None = None,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents") as pure JVM expressions:
    candidate phrases are the maximal runs of non-stopword tokens;
    each word scores degree/frequency where degree is the summed
    length of every phrase the word occurs in (corpus-wide) and
    frequency its occurrence count; a phrase scores the sum of its
    member tokens' word scores (per OCCURRENCE — a token repeated
    inside one phrase counts each time, the list-form reading of the
    paper). Word scores round to 6-dp decimal before the exact
    order-free phrase sum so every engine agrees bit-for-bit.

    Output: (id_col, phrase, n_words, score, rank) — the ``top_k``
    highest-scoring phrases per document, ties broken by phrase text.

    Physical shape: tokenization + stop-marking are map-only; phrase
    ids come from one running count over a per-document window
    (partitioned — never global); word stats are one corpus-wide
    aggregation on the token (uniform key); the final top-k is a
    per-document rank window. No all-pairs stage anywhere.
    """
    if stopwords is None:
        stopwords = LANG_STOPWORDS["en"]
    if int(top_k) < 1:
        raise ValueError(f"rake_keywords: top_k must be >= 1 (got {top_k})")
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_col(F.col(text_col))).alias("__pos", "__tok"),
    ).withColumn("__stop", F.col("__tok").isin(list(stopwords)))
    seg = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    words = (
        toks.withColumn("__pid", F.sum(F.col("__stop").cast("int")).over(seg))
        .filter(~F.col("__stop"))
        .select(id_col, "__pid", "__pos", "__tok")
    )
    phrases = words.groupBy(id_col, "__pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
    )
    wstats = (
        words.join(phrases.select(id_col, "__pid", "n_words"), [id_col, "__pid"])
        .groupBy("__tok")
        .agg(
            F.count(F.lit(1)).alias("__freq"),
            F.sum("n_words").alias("__deg"),
        )
        .withColumn(
            "__wscore",
            F.round(F.col("__deg").cast("double") / F.col("__freq"), 6).cast(
                "decimal(18,6)"
            ),
        )
        .select("__tok", "__wscore")
    )
    scored = (
        words.join(F.broadcast(wstats), "__tok")
        .groupBy(id_col, "__pid")
        .agg(F.sum("__wscore").cast("double").alias("score"))
        .join(phrases, [id_col, "__pid"])
    )
    rk = Window.partitionBy(id_col).orderBy(F.desc("score"), "phrase")
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= int(top_k))
        .select(id_col, "phrase", "n_words", "score", "rank")
    )


def llr_collocations(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993,
    "Accurate Methods for the Statistics of Surprise and
    Coincidence") — the significance-tested upgrade of
    ``pmi_bigrams``: PMI overrates rare pairs (two hapaxes that
    co-occur once score maximal PMI), while LLR weights the evidence,
    so it is the standard collocation score for vocabulary mining at
    corpus scale. Over the adjacent-bigram population of size N with
    contingency counts k11 = n(a,b), k12 = n(a,·)−k11,
    k21 = n(·,b)−k11, k22 = N−k11−k12−k21:
    LLR = 2·Σ k·ln(k·N / (row·col)), zero cells contributing zero.

    Determinism: all counts are exact integers; the four ln terms are
    combined in a FIXED left-to-right order (t11+t12+t21+t22) written
    identically in the SQL oracle, and products are forced to double
    before multiplication (k·N as long·long would overflow at
    1e12 bigrams); one final 6-dp round.

    Output: (token_a, token_b, n_pair, llr), n_pair >= ``min_count``.

    Scale: same physical shape as ``pmi_bigrams`` — map-side explode,
    ONE lead window per document, token-keyed count aggregations,
    vocab-sized marginals joined back (AQE broadcast when they fit).
    """
    toks = df.select(
        F.col(doc_col).alias("d"),
        F.posexplode(tokens_col(F.col(text_col))).alias("i", "tok"),
    )
    w = Window.partitionBy("d").orderBy("i")
    bigrams = (
        toks.withColumn("tok_b", F.lead("tok").over(w))
        .filter(F.col("tok_b").isNotNull())
        .select(F.col("tok").alias("token_a"), F.col("tok_b").alias("token_b"))
    )
    n_big = bigrams.agg(F.count(F.lit(1)).alias("n_big"))
    rows = bigrams.groupBy("token_a").agg(F.count(F.lit(1)).alias("n_row"))
    cols = bigrams.groupBy("token_b").agg(F.count(F.lit(1)).alias("n_col"))
    pair = (
        bigrams.groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_count))
    )

    def term(k: Column, r: Column, c: Column, n: Column) -> Column:
        return F.when(
            k > 0,
            k * F.log((k * 1.0 * n) / (r * 1.0 * c)),
        ).otherwise(F.lit(0.0))

    k11 = F.col("n_pair")
    k12 = F.col("n_row") - k11
    k21 = F.col("n_col") - k11
    k22 = F.col("n_big") - F.col("n_row") - F.col("n_col") + k11
    n = F.col("n_big")
    r1, r2 = F.col("n_row"), n - F.col("n_row")
    c1, c2 = F.col("n_col"), n - F.col("n_col")
    llr = F.lit(2.0) * (
        term(k11, r1, c1, n)
        + term(k12, r1, c2, n)
        + term(k21, r2, c1, n)
        + term(k22, r2, c2, n)
    )
    return (
        pair.join(rows, "token_a")
        .join(cols, "token_b")
        .crossJoin(F.broadcast(n_big))
        .select("token_a", "token_b", "n_pair", F.round(llr, 6).alias("llr"))
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the top-``top_k`` token frequencies: OLS
    slope of ln(freq) on ln(rank) — the corpus-health diagnostic
    (natural language sits near −1; a slope collapsing toward 0 flags
    template/boilerplate floods, a steep one a degenerate vocabulary).

    Determinism: token counts are exact; the top-k ranking is
    TakeOrderedAndProject with (freq desc, token) tie order; ln values
    round to 9-dp decimal BEFORE the OLS sums so every Σ is an exact
    order-free decimal, and the closed-form slope
    (kΣxy − ΣxΣy) / (kΣx² − (Σx)²) does ONE final IEEE division.

    Output: one row (k, slope).

    Scale: one token-keyed count aggregation (map-side combined), a
    k-row ordered take, and one aggregation over k rows."""
    if int(top_k) < 2:
        raise ValueError(f"zipf_fit: top_k must be >= 2 (got {top_k})")
    counts = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col("tok"))
        .limit(int(top_k))
    )
    w = Window.orderBy(F.desc("freq"), F.col("tok"))  # k rows only
    xy = counts.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank").cast("double")), 9)
        .cast("decimal(28,9)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9)
        .cast("decimal(28,9)")
        .alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("k").cast("int").alias("k"),
        F.round((num.cast("double") / den.cast("double")), round_to).alias(
            "slope"
        ),
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    cooc_window: int = 2,
    top_k: int = 15,
    max_iter: int = 10,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — tokens are vertices, an
    undirected edge connects tokens appearing within ``cooc_window``
    positions in any document — then the top-``top_k`` words by rank.
    The graph-centrality complement to RAKE's frequency scoring
    (RAKE rewards phrase-local degree; TextRank rewards corpus-global
    connectivity), composed from ``ops.pagerank`` unchanged.

    Output: (word, pagerank, rank).

    Scale: edge construction is ``cooc_window`` lead columns over one
    per-document window (partitioned) + a distinct on the canonical
    pair; the graph is vocabulary-sized (Heaps' law — sublinear in
    corpus size), so the 10 pagerank rounds iterate over a frame far
    smaller than the corpus; the final top-k is TakeOrderedAndProject
    + a k-row rank window."""
    from .graph import pagerank

    if int(cooc_window) < 1 or int(top_k) < 1:
        raise ValueError(
            f"textrank_keywords: cooc_window and top_k must be >= 1 "
            f"(got {cooc_window}, {top_k})"
        )
    toks = df.select(
        F.col(doc_col).alias("d"),
        F.posexplode(tokens_col(F.col(text_col))).alias("i", "tok"),
    )
    w = Window.partitionBy("d").orderBy("i")
    pairs = None
    for off in range(1, int(cooc_window) + 1):
        nxt = toks.withColumn("__n", F.lead("tok", off).over(w)).filter(
            F.col("__n").isNotNull() & (F.col("tok") != F.col("__n"))
        )
        p = nxt.select(
            F.least("tok", "__n").alias("u"), F.greatest("tok", "__n").alias("v")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    und = pairs.distinct()
    sym = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    pr = pagerank(sym, max_iter=int(max_iter))
    top = pr.orderBy(F.desc("pagerank"), F.col("id").asc()).limit(int(top_k))
    rk = Window.orderBy(F.desc("pagerank"), F.col("id").asc())  # k rows only
    return (
        top.withColumn("rank", F.row_number().over(rk))
        .select(F.col("id").alias("word"), "pagerank", "rank")
    )


def langid_confusion(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the eval table for the stopword
    heuristic (and the template for scoring any doc classifier whose
    labels ride the corpus): predicted vs labeled language with counts
    and a correctness flag, the artifact that decides whether the
    cheap classifier is good enough to gate a 100 TB filter on.

    Output: (label, predicted, n, correct) — one row per observed
    (label, predicted) cell.

    Scale: the lang_id pass is one map-side expression; the matrix is
    one (label, predicted)-keyed aggregation over a
    languages²-bounded key space."""
    scored = lang_id(df, text_col=text_col, out="predicted")
    return (
        scored.groupBy(
            F.col(label_col).alias("label"), F.col("predicted")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("correct", F.col("label") == F.col("predicted"))
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """TOKENIZER FERTILITY per group — subword tokens per whitespace
    word, THE number multilingual-tokenizer reports lead with (a
    tokenizer trained on English typically shows fertility ~1.2 on
    English and 2-4x that on underrepresented scripts, silently
    taxing their effective context length): BPE-ish word-piece counts
    over whitespace word counts, aggregated per group with exact
    integer sums and one final division.

    Output: (group_col, n_docs, n_words, n_bpe_tokens, fertility).

    Scale: two map-side token counts, one group-keyed
    map-side-combined aggregation."""
    counts = df.select(
        F.col(group_col),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("__w"),
        F.regexp_count(
            F.col(text_col), F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]")
        )
        .cast("long")
        .alias("__b"),
    )
    return counts.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("n_words"),
        F.sum("__b").alias("n_bpe_tokens"),
        F.round(
            F.sum("__b").cast("double") / F.sum("__w").cast("double"), 6
        ).alias("fertility"),
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PER-DOCUMENT CHARACTER ENTROPY — the cheapest gibberish /
    compression-quality signal (low entropy = repeated filler or
    base64-ish runs dominate; Shannon 1948): H = log2(n) − (Σ_c
    cnt_c·log2(cnt_c)) / n bits per character over the doc's exact
    character counts.

    Determinism: the per-character terms cnt·log2(cnt) are each
    rounded to 6 dp and summed as EXACT decimals (order-free — a raw
    float Σ would round differently under Spark's vs DuckDB's
    aggregation order; the unigram_logprob convention), then ONE
    float expression closes the formula, rounded at the end.

    Output: (id_col, n_chars, n_unique_chars, entropy_bits) — one row
    per non-empty document.

    Scale: one explode to (doc, char) rows, one (doc, char) count agg
    and one doc-keyed roll-up — both map-side combinable; no UDF."""
    from ..sources import fan_out

    chars = fan_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("__ch"),
    ).filter(F.col("__ch") != "")
    counts = chars.groupBy(id_col, "__ch").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    term = F.round(
        F.col("__cnt") * F.log2(F.col("__cnt")), 6
    ).cast("decimal(28,6)")
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__cnt").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chars"),
        F.sum(term).alias("__s"),
    )
    return per_doc.select(
        id_col,
        "n_chars",
        "n_unique_chars",
        F.round(
            F.log2(F.col("n_chars"))
            - F.col("__s").cast("double") / F.col("n_chars"),
            6,
        ).alias("entropy_bits"),
    )


def vocab_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """PAIRWISE VOCABULARY OVERLAP between corpus groups — the
    data-mixing diagnostic behind "is source B redundant given A?":
    per ordered pair (a < b), the distinct-token Jaccard
    |V_a ∩ V_b| / |V_a ∪ V_b| with the exact set sizes alongside.
    High overlap predicts low marginal value from adding b
    (domain_shift's token-distribution angle, restricted to set
    membership — cheap enough to run on every ingest).

    Output: (group_a, group_b, vocab_a, vocab_b, n_shared, jaccard) —
    one row per unordered group pair that SHARES at least one token
    (disjoint vocabularies produce no row; a zero-row pair IS the
    answer).

    ``ngram`` > 1 compares n-gram vocabularies instead of unigrams —
    unigram vocabularies saturate on any broad corpus (function words
    dominate), n-grams keep discriminating.

    Scale: one distinct over (group, term), one group-size agg, and
    ONE term-keyed self-join whose fan-out per term is the number
    of groups containing it (bounded by the group count, never by
    corpus size); output is group-pair sized."""
    from ..sources import fan_out
    from .dedup import shingles_of

    toks = tokens_col(F.col(text_col))
    terms = toks if int(ngram) <= 1 else shingles_of(toks, int(ngram))
    vocab = (
        fan_out(df)
        .select(
            F.col(group_col).alias("__g"),
            F.explode(terms).alias("__t"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = vocab.select(F.col("__g").alias("group_a"), "__t")
    b = vocab.select(F.col("__g").alias("group_b"), "__t")
    shared = (
        a.join(b, "__t")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("vocab_a")),
            "group_a",
        )
        .join(
            sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("vocab_b")),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def readability_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade — the classic cheap
    readability filters an LLM curation pipeline runs alongside the
    Gopher battery (readability bands correlate with document
    register; extreme scores flag OCR noise and word salad).

    Heuristics (all deterministic, no dictionary): words = whitespace
    tokens; sentences = runs of ``[.!?]`` (floored at 1, so unpunctuated
    corpora degrade to one-sentence documents rather than dividing by
    zero); syllables per word = vowel-group count ``[aeiouy]+`` of the
    lowercased word, floored at 1 (the standard approximation).

      flesch   = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
      fk_grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59

    Output: input columns + (n_words, n_sentences, n_syllables,
    flesch, fk_grade); empty documents yield zero words and NULL
    scores (no silent 0.0 that would sort as "hardest").

    Scale: pure per-row JVM expressions — one regexp count for
    sentences, one higher-order transform+aggregate for syllables;
    zero shuffle, zero Python, whole-stage-codegen friendly."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_words = F.size(toks)
    n_sents = F.greatest(F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1))
    syl = F.aggregate(
        F.transform(
            toks,
            lambda t: F.greatest(
                F.regexp_count(F.lower(t), F.lit("[aeiouy]+")), F.lit(1)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    wps = n_words.cast("double") / n_sents.cast("double")
    spw = syl.cast("double") / n_words.cast("double")
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_sentences", n_sents)
        .withColumn("n_syllables", F.when(n_words > 0, syl))
        .withColumn(
            "flesch",
            F.when(
                n_words > 0,
                F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4),
            ),
        )
        .withColumn(
            "fk_grade",
            F.when(
                n_words > 0,
                F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4),
            ),
        )
    )
