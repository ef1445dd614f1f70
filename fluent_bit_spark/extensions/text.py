"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

All deterministic Catalyst expressions so they (a) run at scan speed inside
whole-stage codegen and (b) can be replicated exactly in ANSI SQL for the
DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluent_bit_spark.extensions.dedup import normalize_text

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "des", "un"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _marker_hits(col: Column, markers: list[str]) -> Column:
    words = F.split(normalize_text(col), " ")
    hits = F.lit(0)
    for m in markers:
        if m.isascii():
            hit = F.array_contains(words, m)
        else:
            # CJK text is unsegmented — whitespace tokens never EQUAL a
            # single-character marker ('我是学生' is one token), so
            # non-ASCII markers match by substring containment; Latin
            # markers keep token equality ('the' must not hit 'theater')
            hit = F.contains(normalize_text(col), F.lit(m))
        hits = hits + F.when(hit, 1).otherwise(0)
    return hits


def lang_id(col: Column, default: str = "und") -> Column:
    """Stopword-marker language ID: the language with the most distinct
    marker words present wins; ties broken by language code order."""
    best_lang = F.lit(default)
    best_hits = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        hits = _marker_hits(col, LANG_MARKERS[lang])
        take = hits > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, 0).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish proxy: words + digits + punctuation marks counted separately
    (a cheap, deterministic stand-in for a real tokenizer)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation ratio / stopword ratio / mean word length —
    the standard cheap quality signals for corpus filtering."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    n_stop = _marker_hits(t, LANG_MARKERS["en"])
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))).alias("q_stop_ratio"),
        (n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))).alias("q_mean_word_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0..1 quality score from the features (deterministic
    formula: length band + punctuation sanity + stopword presence)."""
    feat = quality_features(df, text_col)
    len_ok = F.when((F.col("q_chars") >= 50) & (F.col("q_chars") <= 10000), 1.0).otherwise(0.4)
    punct_ok = F.when(F.col("q_punct_ratio") <= 0.2, 1.0).otherwise(0.5)
    stop_ok = F.when(F.col("q_stop_ratio") >= 0.05, 1.0).otherwise(0.7)
    return feat.withColumn("quality", F.round((len_ok * punct_ok * stop_ok), 4))


# Gopher rules (Rae et al. 2021, "Scaling Language Models: ...Gopher",
# Appendix A1.1 quality heuristics) — the published filter set large-scale
# corpus pipelines apply before training. Deterministic Catalyst
# expressions with an exact DuckDB replica (see __spark_entry__ oracle).
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher quality rules: word-count band, mean-word-length
    band, symbol-to-word ratio, bullet-line and ellipsis-line fractions,
    alphabetic-word fraction, and the 2-of-8 stopword requirement. Emits
    one boolean per rule plus the conjunctive ``keep`` — downstream
    pipelines either filter on keep or log per-rule rejection stats.

    Scale shape: pure per-row projection (no shuffle, whole-stage
    codegen); runs at scan speed over any corpus size."""
    # NULL text coalesces to '' so every rule evaluates to a real
    # boolean and keep=False: a NULL keep row vanishes from BOTH
    # filter(keep) and filter(~keep), corrupting per-rule rejection
    # accounting (sum(when(~r_x, 1)) skips it too)
    t = F.coalesce(F.col(text_col), F.lit(""))
    trimmed = F.trim(t)
    words = F.split(trimmed, r"\s+")
    n_words = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(F.size(words))
    nw1 = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.length(F.regexp_replace(t, r"\s", "")).cast("double") / nw1
    n_sym = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\.|…"), 0))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    nl1 = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•](\s|$)"))).cast("double") / nl1
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$"))).cast("double") / nl1
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double") / nw1
    )
    # one combined regex pass; array_distinct keeps the rule's semantics
    # (count of DISTINCT stopwords present, not total occurrences)
    stop_re = r"\b(" + "|".join(_GOPHER_STOPWORDS) + r")\b"
    stop_hits = F.size(
        F.array_distinct(F.regexp_extract_all(F.lower(t), F.lit(stop_re), 1))
    )
    rules = {
        "r_word_count": (n_words >= 50) & (n_words <= 100_000),
        "r_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "r_symbol_ratio": (n_sym.cast("double") / nw1) <= 0.1,
        "r_bullet_lines": bullet_frac <= 0.9,
        "r_ellipsis_lines": ellipsis_frac <= 0.3,
        "r_alpha_words": alpha_frac >= 0.8,
        "r_stopwords": stop_hits >= 2,
    }
    out_names = {"g_words", "keep", *rules}
    clash = out_names & set(df.columns)
    if clash:
        # a silent duplicate 'keep' column makes downstream F.col('keep')
        # ambiguous far from the cause — fail here instead
        raise ValueError(
            f"input columns collide with gopher_quality outputs: {sorted(clash)}; "
            "rename or drop them first"
        )
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return df.select(
        "*",
        n_words.alias("g_words"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, c) counts over the normalized corpus — the model-build pass
    for unigram LM scoring. One map-side-combinable shuffle on the word."""
    words = df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))


def unigram_logprob(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean token log-probability under an add-one-smoothed
    unigram model of ``target`` — the CCNet-style LM quality filter with
    the n-gram model reduced to its unigram core: documents whose word
    distribution matches the trusted target corpus score high, word-salad
    and boilerplate score low. Fully deterministic and SQL-replicable
    (unlike a KenLM binary), so the oracle gate checks it hash-exact.

    Returns (id_col, avg_logp, n_tokens) for every doc with >= 1 token.

    Scale shape: the model is vocab-sized (broadcast); the scoring join
    is map-side against the broadcast vocab; one shuffle builds the model
    and one aggregates per doc. The only driver state is the smoothing
    denominator (two scalars)."""
    import math

    # pinned: the target counts feed both the driver-scalar smoothing
    # denominator and the broadcast model — without the checkpoint the
    # explode+groupBy over the target corpus runs as two separate jobs
    counts = unigram_counts(target, text_col).localCheckpoint(eager=True)
    stats = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    denom = float((stats["n"] or 0) + stats["v"])
    if denom <= 0:
        raise ValueError("target corpus has no tokens to model")
    oov = math.log(1.0 / denom)
    model = counts.select(
        "word", F.log((F.col("c") + 1) / F.lit(denom)).alias("logp")
    )
    doc_words = df.select(
        id_col,
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        doc_words.join(F.broadcast(model), "word", "left")
        .groupBy(id_col)
        .agg(
            F.avg(F.coalesce("logp", F.lit(oov))).alias("avg_logp"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    interpolation: float = 0.7,
) -> DataFrame:
    """Per-document mean token log-probability under an INTERPOLATED
    bigram model of ``target`` — the next fidelity step from
    unigram_logprob toward the CCNet/KenLM filter (Wenzek et al. 2020,
    CCNet, arXiv:1911.00359; Jelinek-Mercer interpolation):

        p(w | u) = lam * c(u,w) / c_ctx(u) + (1 - lam) * p_uni(w)
        p_uni(w) = (c(w) + 1) / (N + V)        [add-one, as unigram_logprob]

    with the bigram term dropped entirely for contexts unseen in the
    target (p falls back to the unigram). The first token of each doc
    scores as p_uni. Deterministic and SQL-replicable — no KenLM binary,
    the DuckDB oracle replays the whole model.

    Returns (id_col, avg_logp, n_tokens) for every doc with >= 1 token.

    Scale shape: both model tables are TARGET-corpus-bounded (the trusted
    corpus is curated/eval-sized by construction — same contract as
    dsir/unigram): observed-bigram counts + context counts broadcast; the
    corpus explodes once to (prev, word) pairs and joins map-side; one
    combinable shuffle per model table + one per-doc aggregate."""
    import math

    # pinned: the target counts feed both the driver-scalar smoothing
    # denominator and the broadcast model — without the checkpoint the
    # explode+groupBy over the target corpus runs as two separate jobs
    counts = unigram_counts(target, text_col).localCheckpoint(eager=True)
    stats = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    denom = float((stats["n"] or 0) + stats["v"])
    if denom <= 0:
        raise ValueError("target corpus has no tokens to model")
    if not (0.0 <= interpolation < 1.0):
        # lam = 1.0 assigns probability 0 to an unseen bigram in a SEEN
        # context; log(0) is NULL, which avg() silently skips — the doc
        # scores over fewer tokens than n_tokens reports, inflating
        # avg_logp exactly where the model says "impossible"
        raise ValueError(
            "interpolation must be in [0, 1) — 1.0 zeroes unseen-bigram "
            "probabilities and silently drops them from avg_logp"
        )
    lam = float(interpolation)
    oov_p = 1.0 / denom
    uni = counts.select("word", ((F.col("c") + 1) / F.lit(denom)).alias("p_uni"))

    def _pairs(frame):
        # (id, word, prev) WITHOUT a per-doc window shuffle: the pair array
        # is built per row from the materialized word array (element_at is
        # 1-based, so index i's previous word is element i), then exploded
        words = F.split(normalize_text(F.col(text_col)), " ")
        w = frame.select(
            F.col(id_col), F.filter(words, lambda x: x != "").alias("ws")
        )
        pair_arr = F.transform(
            F.col("ws"),
            lambda x, i: F.struct(
                x.alias("word"),
                F.when(i > 0, F.element_at(F.col("ws"), i)).alias("prev"),
            ),
        )
        return w.select(F.col(id_col), F.explode(pair_arr).alias("p")).select(
            id_col, "p.word", "p.prev"
        )

    tgt_pairs = _pairs(target).filter(F.col("prev").isNotNull())
    big = tgt_pairs.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("cb"))
    ctx = big.groupBy("prev").agg(F.sum("cb").alias("cc"))
    bmodel = big.join(ctx, "prev").select(
        "prev", "word", (F.col("cb") / F.col("cc")).alias("p_big")
    )

    doc_pairs = _pairs(df)
    scored = (
        doc_pairs.join(F.broadcast(uni), "word", "left")
        .join(F.broadcast(bmodel), ["prev", "word"], "left")
        .join(
            F.broadcast(ctx.select(F.col("prev"), F.lit(True).alias("ctx_seen"))),
            "prev", "left",
        )
    )
    p_u = F.coalesce("p_uni", F.lit(oov_p))
    p = (
        F.when(F.col("prev").isNull(), p_u)  # doc-initial token
        .when(
            F.col("ctx_seen").isNotNull(),
            F.lit(lam) * F.coalesce("p_big", F.lit(0.0)) + F.lit(1.0 - lam) * p_u,
        )
        .otherwise(p_u)
    )
    return scored.groupBy(id_col).agg(
        F.avg(F.log(p)).alias("avg_logp"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def perplexity_buckets(
    scores: DataFrame,
    score_col: str = "avg_logp",
    id_col: str = "doc_id",
    bounds: tuple[float, float] = (1 / 3, 2 / 3),
    out_col: str = "bucket",
) -> DataFrame:
    """CCNet's head/middle/tail split: rank documents by LM score and cut
    at the given quantile bounds — head = best-scoring (lowest
    perplexity) third by default. Cutoffs are EXACT percentiles of the
    (rounded) score distribution computed distributed (two scalars to the
    driver), then the bucketing is a stateless comparison — no global
    window, so no single-task funnel at 100 TB. Scores are rounded to 6
    decimals before the percentile so the cutoff arithmetic is replayable
    bit-for-bit by the DuckDB oracle (quantile_cont uses the same linear
    interpolation)."""
    lo, hi = float(bounds[0]), float(bounds[1])
    if not (0.0 < lo < hi < 1.0):
        raise ValueError("bounds must satisfy 0 < lo < hi < 1")
    r = scores.withColumn("__s", F.round(F.col(score_col), 6))
    cuts = r.agg(
        F.percentile("__s", F.lit(1.0 - lo)).alias("c_head"),
        F.percentile("__s", F.lit(1.0 - hi)).alias("c_mid"),
    ).collect()[0]
    # higher avg_logp = lower perplexity = better
    bucket = (
        F.when(F.col("__s") >= cuts["c_head"], "head")
        .when(F.col("__s") >= cuts["c_mid"], "middle")
        .otherwise("tail")
    )
    return r.withColumn(out_col, bucket).drop("__s")


def repeated_span_stats(
    df: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level duplication signal — the distributed formulation of
    ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499). The published
    approach finds >=N-token substrings shared across the corpus with a
    suffix array — inherently sequential; here every ``window``-token
    sliding window (stride 1) of the normalized text is hashed and
    counted corpus-wide, and each doc reports the fraction of its windows
    occurring more than once anywhere (another doc or a second time in
    the same doc). Any shared substring of >= ``window`` tokens yields at
    least one duplicated window hash, so a dup_frac filter implements
    the paper's doc-level policy exactly; span TRIMMING remains a
    downstream choice (it needs position merging, not just counts).

    Returns (id, n_tokens, n_windows, dup_windows, dup_frac).

    Scale shape: one explode to ~n_tokens rows, a map-side-combinable
    count on the 128-bit span hash (uniform key), and a per-doc
    aggregate — the unigram_counts shape, linear at 100 TB. The md5 span
    hash makes the whole derivation replayable in the DuckDB oracle."""
    # materialize the word array FIRST: referencing the raw
    # split(regexp_replace(...)) expression inside the transform lambda
    # re-evaluates the regex once per window position (the ngrams_of_words
    # pathology; measured 6x slower here at sf0.1)
    base = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__ws"),
    )
    ws = F.col("__ws")
    spans = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(ws) >= window,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - window),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i + 1, window))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h"),
    )
    counts = spans.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    # n_windows is pure arithmetic over the word-array size (exactly the
    # exploded count: size-window+1 when size >= window), so the count
    # table does NOT need to join back onto every span row — the span
    # side only semi-joins the (usually tiny) DUPLICATED-hash subset,
    # and AQE picks broadcast vs sort-merge for it from runtime stats,
    # which keeps the shape scale-safe when duplication is massive
    dup = counts.filter(F.col("c") >= 2).select("h")
    dupw = (
        spans.join(dup, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_windows"))
    )
    n_tok = base.select(
        F.col(id_col),
        F.coalesce(
            F.size(F.filter(ws, lambda w: w != "")), F.lit(0)
        ).alias("n_tokens"),
        F.coalesce(
            F.when(
                F.size(ws) >= window, F.size(ws) - window + 1
            ).otherwise(0),
            F.lit(0),
        ).alias("n_windows"),
    )
    return (
        n_tok.join(dupw, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.round(
                F.coalesce(
                    F.col("dup_windows")
                    / F.nullif(F.col("n_windows").cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_frac"),
        )
    )


def exact_substr_trim(
    df: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr span TRIMMING — the removal stage that
    ``repeated_span_stats`` (detection) leaves downstream, completing the
    Lee et al. 2022 (arXiv:2107.06499) dedup: every >= ``window``-token
    substring that occurs more than once corpus-wide is cut from the text,
    keeping exactly one canonical copy.

    Policy (deterministic): for each duplicated window hash the occurrence
    with the smallest (doc_id, pos) is canonical and kept; every other
    occurrence marks its [pos, pos+window) token range for removal. Ranges
    within a doc are merged into maximal intervals (gaps-and-islands) and
    the covered tokens are cut from the normalized token stream.

    Returns (id, n_tokens, kept_tokens, n_cut_spans, trimmed_text), one
    row per input doc; a full duplicate of an earlier doc trims to "".

    Scale shape: one explode to ~n_tokens span rows, a map-side-combinable
    count+argmin on the uniform 128-bit hash, a hash join back (the dup
    side is pre-filtered to c>=2, tiny in a deduped corpus), a per-doc
    keyed window for interval merge, and a JVM higher-order filter to
    rebuild tokens — linear, no global ordering. Replayed hash-exact by
    the DuckDB oracle (row_number first-occurrence, window-function
    islands, positional anti-join rebuild)."""
    base = _token_base(df, text_col, id_col)
    spans = _window_spans(base, window, id_col)
    dup = (
        spans.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
                "first"
            ),
        )
        .filter(F.col("c") >= 2)
    )
    cuts = (
        spans.join(dup, "h")
        .filter(
            ~(
                (F.col(id_col) == F.col("first.d"))
                & (F.col("pos") == F.col("first.p"))
            )
        )
        .select(
            F.col(id_col),
            F.col("pos").alias("s"),
            (F.col("pos") + window).alias("e"),
        )
    )
    return _apply_cuts(base, cuts, id_col)


def exact_substr_trim_against(
    df: DataFrame,
    benchmark: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Span-level DECONTAMINATION: cut EVERY corpus occurrence of any
    >= ``window``-token substring that appears anywhere in ``benchmark``
    — the span-granular version of the doc-level `decontaminate` drop
    (the policy eval-contamination reports use when a doc is mostly
    clean but quotes a benchmark item verbatim). No canonical copy is
    kept: benchmark text must not survive in the training set at all.

    Returns the same (id, n_tokens, kept_tokens, n_cut_spans,
    trimmed_text) surface as `exact_substr_trim`.

    Scale shape: ZERO SHUFFLE. Unlike corpus-wide trimming (which needs
    a global duplicate count), contamination is a per-row question
    against STATIC state — the benchmark is eval-set-sized, so its
    distinct window hashes collect into a broadcast set, the corpus-side
    window hashes are computed JVM-side (the same Catalyst expression as
    `exact_substr_trim`), and an Arrow-batched UDF does set membership +
    interval merge + token cut entirely within the row. The corpus never
    moves, which also makes the call streaming-legal unchanged (tested:
    batch output == streamed output)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bws = F.col("__ws")
    bench_hashes = frozenset(
        r["h"]
        for r in _token_base(
            benchmark.select(
                F.lit(0).alias("__bid"), F.col(bench_text_col).alias("__t")
            ),
            "__t",
            "__bid",
        )
        .select(
            F.explode(
                F.when(
                    F.size(bws) >= window,
                    F.transform(
                        F.sequence(F.lit(0), F.size(bws) - window),
                        lambda i: F.md5(F.concat_ws(" ", F.slice(bws, i + 1, window))),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("h")
        )
        .distinct()
        .collect()
    )
    bc = df.sparkSession.sparkContext.broadcast(bench_hashes)
    w = window

    # NOTE: no type hints — the module-level postponed annotations would
    # turn them into strings pandas_udf can't inspect
    @pandas_udf(
        "struct<n_tokens:int,kept_tokens:int,n_cut_spans:int,trimmed_text:string>"
    )
    def cut(toks, hashes):
        bset = bc.value
        out = {"n_tokens": [], "kept_tokens": [], "n_cut_spans": [], "trimmed_text": []}
        for ws, hs in zip(toks, hashes):
            ws = list(ws) if ws is not None else []
            hs = list(hs) if hs is not None else []
            ivs = []  # merged [s, e) islands, built in pos order
            for pos, h in enumerate(hs):
                if h in bset:
                    if ivs and pos <= ivs[-1][1]:
                        ivs[-1][1] = max(ivs[-1][1], pos + w)
                    else:
                        ivs.append([pos, pos + w])
            if ivs:
                cutset = set()
                for s, e in ivs:
                    cutset.update(range(s, e))
                kept = [t for i, t in enumerate(ws) if i not in cutset]
            else:
                kept = ws
            out["n_tokens"].append(len(ws))
            out["kept_tokens"].append(len(kept))
            out["n_cut_spans"].append(len(ivs))
            out["trimmed_text"].append(" ".join(kept))
        return pd.DataFrame(
            {
                "n_tokens": pd.array(out["n_tokens"], dtype="int32"),
                "kept_tokens": pd.array(out["kept_tokens"], dtype="int32"),
                "n_cut_spans": pd.array(out["n_cut_spans"], dtype="int32"),
                "trimmed_text": out["trimmed_text"],
            }
        )

    base = _token_base(df, text_col, id_col)
    ws_col = F.col("__ws")
    hashes_col = F.when(
        F.size(ws_col) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(ws_col) - window),
            lambda i: F.md5(F.concat_ws(" ", F.slice(ws_col, i + 1, window))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.withColumn("__r", cut(ws_col, hashes_col)).select(
        F.col(id_col),
        F.col("__r.n_tokens").alias("n_tokens"),
        F.col("__r.kept_tokens").alias("kept_tokens"),
        F.col("__r.n_cut_spans").alias("n_cut_spans"),
        F.col("__r.trimmed_text").alias("trimmed_text"),
    )


def _token_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __ws: array<string>) — the normalized non-empty token array."""
    return df.select(
        F.col(id_col),
        F.filter(
            F.split(normalize_text(F.col(text_col)), " "), lambda w: w != ""
        ).alias("__ws"),
    )


def _window_spans(base: DataFrame, window: int, id_col: str) -> DataFrame:
    """(id, pos, h) — md5 of every ``window``-token sliding window."""
    ws = F.col("__ws")
    return base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size(ws) >= window,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - window),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i + 1, window))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )


def _apply_cuts(base: DataFrame, cuts: DataFrame, id_col: str) -> DataFrame:
    """Merge (id, s, e) cut ranges into maximal islands per doc and cut
    the covered positions from the token stream (keyed window + JVM
    higher-order filter; docs with no cuts bypass via the left join)."""
    from pyspark.sql.window import Window

    ws = F.col("__ws")
    w_doc = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        cuts.withColumn(
            "f",
            F.when(F.col("s") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn(
            "island", F.sum("f").over(w_doc.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = merged.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__iv")
    )
    iv = F.col("__iv")
    return (
        base.join(ivs, id_col, "left")
        .withColumn(
            "__iv", F.coalesce(iv, F.array().cast("array<struct<s:int,e:int>>"))
        )
        .withColumn(
            "__kept",
            F.filter(
                ws,
                lambda w, i: ~F.exists(
                    F.col("__iv"), lambda v: (i >= v["s"]) & (i < v["e"])
                ),
            ),
        )
        .select(
            F.col(id_col),
            F.size(ws).alias("n_tokens"),
            F.size("__kept").alias("kept_tokens"),
            F.size(iv).alias("n_cut_spans"),
            F.concat_ws(" ", "__kept").alias("trimmed_text"),
        )
    )


def ngrams_of_words(words: Column, n: int) -> Column:
    """Overlapping n-grams from an ALREADY-MATERIALIZED word-array column.

    Callers must project the split into a real column first: referencing a
    raw `split(regexp_replace(...))` expression from inside the transform
    lambda re-evaluates the regex once per element access (measured 7x
    slower at sf0.1), because higher-order lambdas sit outside whole-stage
    codegen's subexpression elimination."""
    idx = F.sequence(F.lit(0), F.size(words) - n)
    if n <= 8:  # unrolled element access beats a per-position array copy
        def gram(i):
            return F.concat_ws(" ", *[words[i + j] for j in range(n)])
    else:
        def gram(i):
            return F.concat_ws(" ", F.slice(words, i + 1, n))
    return F.when(F.size(words) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 2,
    rep_n: int = 5,
) -> DataFrame:
    """Repetition-based quality signals in the style of the Gopher corpus
    filters (Rae et al. 2021, appendix A1) — the standard pretraining-data
    screens for boilerplate and degenerate text:

    - ``dup_line_frac``: fraction of non-empty line slots that are repeats
      of another line in the same doc (1 - distinct/total).
    - ``dup_line_char_frac``: characters living in duplicated lines over
      all line characters.
    - ``top_gram_char_frac``: chars covered by the single most frequent
      word ``gram_n``-gram (count x gram length / normalized chars);
      ties by count break to the longer gram.
    - ``rep_gram_char_frac``: chars covered by all ``rep_n``-grams that
      occur more than once (count x length summed; overlaps counted, the
      usual approximation, so the value may exceed 1).

    Scale shape: two explodes, each shuffling on (doc, item) — uniform,
    high-cardinality keys — then per-doc aggregates joined back. Every
    expression is Catalyst + one groupBy; no UDFs, fully oracle-checkable.
    """
    t = F.col(text_col)
    # ONE projection materializes the words array; the gram transforms are
    # applied INSIDE the explode select over it. The Generate node explode
    # produces does not collapse into its input Project, so the split is
    # evaluated once per row — chaining Projects instead lets
    # CollapseProject inline the regex split into every lambda element
    # access, an O(words^2)-regexes-per-doc blowup (measured 36s vs ~2s at
    # sf0.1). Lines and both gram families ride ONE tagged explode so the
    # corpus is scanned and split once, and the three per-item count
    # aggregates share a single (doc, tag, item) shuffle.
    staged = df.select(
        F.col(id_col),
        F.length(normalize_text(t)).alias("__chars"),
        F.filter(
            F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
            lambda l: F.length(l) > 0,
        ).alias("__lines"),
        F.split(normalize_text(t), " ").alias("__words"),
    )
    w = F.col("__words")
    tagged = F.concat(
        F.transform(
            F.col("__lines"), lambda l: F.struct(F.lit(0).alias("t"), l.alias("item"))
        ),
        F.transform(
            ngrams_of_words(w, gram_n),
            lambda g: F.struct(F.lit(1).alias("t"), g.alias("item")),
        ),
        F.transform(
            ngrams_of_words(w, rep_n),
            lambda g: F.struct(F.lit(2).alias("t"), g.alias("item")),
        ),
    )
    stats = (
        staged.select(id_col, F.explode(tagged).alias("e"))
        .select(id_col, F.col("e.t").alias("t"), F.col("e.item").alias("item"))
        .groupBy(id_col, "t", "item")
        .agg(F.count("*").alias("c"))
        .withColumn("ln", F.length("item"))
    )

    line_agg = stats.filter(F.col("t") == 0).groupBy(id_col).agg(
        F.sum("c").alias("n_lines"),
        (1.0 - F.count("*") / F.sum("c")).alias("dup_line_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("ln")).otherwise(0)).cast("double")
            / F.sum(F.col("c") * F.col("ln"))
        ).alias("dup_line_char_frac"),
    )
    top_stats = (
        stats.filter(F.col("t") == 1)
        .groupBy(id_col)
        .agg(F.max(F.struct("c", "ln")).alias("top"))
        .select(id_col, (F.col("top.c") * F.col("top.ln")).alias("top_chars"))
    )
    rep_stats = (
        stats.filter(F.col("t") == 2)
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("ln")).otherwise(0)
            ).alias("rep_chars")
        )
    )

    chars = F.col("__chars")
    return (
        staged.select(id_col, "__chars")
        .join(line_agg, id_col, "left")
        .join(top_stats, id_col, "left")
        .join(rep_stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
            F.when(chars > 0, F.coalesce("top_chars", F.lit(0)) / chars)
            .otherwise(0.0)
            .alias("top_gram_char_frac"),
            F.when(chars > 0, F.coalesce("rep_chars", F.lit(0)) / chars)
            .otherwise(0.0)
            .alias("rep_gram_char_frac"),
        )
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (rolling-hash-class
    dedup key; md5 chosen because every SQL engine reproduces it)."""
    return F.md5(normalize_text(col))


# --------------------------------------------------------------------------
# PII scan / redaction (the filter_nightfall capability —
# plugins/filter_nightfall/ scans via an external API; here the common
# detector classes run as native regexp_replace, no network, no UDF)
# --------------------------------------------------------------------------
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "credit_card": r"\b(?:\d[ -]?){13,16}\b",
}
PII_ORDER = ("email", "ssn", "credit_card", "ipv4")


def redact_pii(col: Column, kinds: tuple[str, ...] | None = None,
               replacement: str = "[REDACTED:{kind}]") -> Column:
    """Mask PII spans in place; kinds apply in PII_ORDER (emails before
    ipv4 so the domain's dots aren't half-eaten, card before bare digit
    runs)."""
    for kind in kinds or PII_ORDER:
        col = F.regexp_replace(col, PII_PATTERNS[kind], replacement.format(kind=kind))
    return col


def pii_flags(col: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Array of detected PII kinds (the scan-only mode)."""
    hits = [
        F.when(col.rlike(PII_PATTERNS[k]), F.lit(k)) for k in (kinds or PII_ORDER)
    ]
    return F.array_compact(F.array(*hits))


# --------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the published
# heuristics; no reference-plugin counterpart, this is the training-data
# pipeline surface)
# --------------------------------------------------------------------------
_C4_BAD_PHRASES = ("lorem ipsum", "javascript", "terms of use", "privacy policy",
                   "cookie policy", "uses cookies")


def corpus_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 1,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-level duplicate-line removal (RefinedWeb §3.2 / Dolma
    paragraph dedup): a trimmed line that occurs in more than ``max_docs``
    distinct documents is boilerplate (nav bars, cookie banners, footers)
    and is stripped from every document; lines shorter than ``min_chars``
    are kept untouched (blank separators are not boilerplate evidence).

    Scale shape: one explode, one partial-aggregated groupBy on the line
    text (the global frequency pass), one shuffle join back on the same
    key, then the keyed per-doc rebuild — the canonical two-shuffle plan
    for corpus-frequency filtering. No driver-side state; the frequency
    table lives distributed, never collected.

    Returns (id_col, clean_text, n_kept_lines, n_dropped_lines).
    NULL-text documents behave exactly like empty-string documents
    (one kept empty line -> ('', 1, 0)) rather than vanishing —
    posexplode over a NULL split generates zero rows, which would drop
    the document from the output with no signal to an id-joining
    caller.
    """
    lines = df.select(
        id_col,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line_no", "line"),
    ).withColumn("line", F.trim(F.col("line")))
    eligible = F.length("line") >= min_chars
    freq = (
        lines.filter(eligible)
        .groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("line")
    )
    marked = lines.join(
        freq.withColumn("_dup", F.lit(True)), on="line", how="left"
    ).withColumn("drop", eligible & F.coalesce(F.col("_dup"), F.lit(False)))
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("drop"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(~F.col("drop"), 1).otherwise(0)).alias("n_kept_lines"),
            F.sum(F.when(F.col("drop"), 1).otherwise(0)).alias("n_dropped_lines"),
        )
    )


def c4_line_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
) -> DataFrame:
    """Per-line C4 cleaning signals: one row per line with ``keep`` = the
    line survives the published rules — ends in terminal punctuation
    (. ! ? "), has >= ``min_words_per_line`` words, and is not a bare
    boilerplate marker. Document-level rules (curly brace anywhere,
    "lorem ipsum" anywhere, dedup) are surfaced as doc_* flags so callers
    can drop whole documents.

    One explode per document — the same tagged-explode shape as
    repetition_signals; no shuffle beyond the explode."""
    lines = df.select(
        id_col,
        F.lower(F.col(text_col)).contains("{").alias("doc_has_brace"),
        F.lower(F.col(text_col)).contains("lorem ipsum").alias("doc_has_lorem"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    ).withColumn("line", F.trim(F.col("line")))
    line_l = F.lower(F.col("line"))
    bad = F.lit(False)
    for p in _C4_BAD_PHRASES:
        bad = bad | line_l.contains(p)
    keep = (
        F.col("line").rlike('[.!?"]$')
        & (F.size(F.split(F.col("line"), r"\s+")) >= min_words_per_line)
        & ~bad
    )
    return lines.select(
        id_col,
        "line_no",
        "line",
        "doc_has_brace",
        "doc_has_lorem",
        keep.alias("keep"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_lines: int = 1,
) -> DataFrame:
    """Apply the C4 procedure: drop documents containing a curly brace or
    "lorem ipsum", keep only surviving lines, rejoin with newlines, drop
    documents left with fewer than ``min_lines`` lines. Returns
    (id, clean_text, n_kept_lines). Aggregation is a single groupBy on the
    uniform doc id — scale-safe."""
    sig = c4_line_signals(df, text_col, id_col, min_words_per_line)
    kept = (
        sig.filter(~F.col("doc_has_brace") & ~F.col("doc_has_lorem") & F.col("keep"))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept_lines"),
        )
        .filter(F.col("n_kept_lines") >= min_lines)
    )
    return kept


# --------------------------------------------------------------------------
# Unicode hygiene: mojibake repair + NFC normalization + control stripping —
# the ftfy-style pass every web-crawl pipeline runs before anything else.
# Pure-Python heuristics over Arrow batches (Unicode tables aren't Catalyst
# expressions); the repair is self-limiting: it only rewrites a string when
# re-encoding via latin-1/cp1252 yields STRICTLY valid UTF-8 that is
# SHORTER than the input (multi-byte mojibake always shrinks; genuine text
# with real accented characters fails the strict re-decode and passes
# through untouched).
# --------------------------------------------------------------------------
def _mojibake_bytes(s: str) -> bytes | None:
    """Reverse the wrong decode: latin-1 (pure byte identity), then
    cp1252 (the common web case — curly quotes/euro/dashes live in
    0x80-0x9F), then cp1252 with the five undefined gaps passed through
    as C1 bytes (what lenient decoders emit)."""
    try:
        return s.encode("latin-1", errors="strict")
    except UnicodeEncodeError:
        pass
    try:
        return s.encode("cp1252", errors="strict")
    except UnicodeEncodeError:
        pass
    out = bytearray()
    for ch in s:
        o = ord(ch)
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            if o < 0x100:
                out.append(o)  # cp1252 gap chars (0x81, 0x8D, ...)
            else:
                return None
    return bytes(out)


def fix_mojibake_str(s: str, max_rounds: int = 3) -> str:
    """Repair UTF-8-read-as-latin-1/cp1252 text ('cafÃ©' -> 'café'),
    iterating for double-encoded payloads; non-mojibake strings pass
    through unchanged (see module note on the self-limiting rule)."""
    for _ in range(max_rounds):
        if s.isascii():
            return s
        b = _mojibake_bytes(s)
        if b is None:
            return s
        try:
            t = b.decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return s
        if len(t) >= len(s):
            return s
        s = t
    return s


_ZERO_WIDTH = {0x200B, 0x200C, 0x200D, 0xFEFF, 0x2060}


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFC",
    fix_encoding: bool = True,
    strip_controls: bool = True,
) -> DataFrame:
    """ftfy-style Unicode hygiene over an Arrow batch pass: mojibake
    repair (optional), canonical normalization (NFC by default — the
    form LLM tokenizers expect), zero-width/BOM removal, NBSP -> space,
    and control stripping (keeps \\n and \\t). Writes ``out_col``
    (default: in place)."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    dst = out_col or text_col

    @pandas_udf("string")
    def run(col):
        import pandas as pd

        out = []
        for s in col:
            if s is None:
                out.append(None)
                continue
            s = str(s)
            if strip_controls:
                # zero-width chars strip BEFORE the repair (they are
                # > 0xFF, so never mojibake bytes, but a stray ZWSP
                # would block the strict re-encode); C1 controls strip
                # AFTER — 0x80-0x9F are exactly what latin-1 mojibake
                # is made of
                s = "".join(
                    ch for ch in s if ord(ch) not in _ZERO_WIDTH
                )
            if fix_encoding:
                s = fix_mojibake_str(s)
            if strip_controls:
                s = "".join(
                    " " if ch == " " else ch  # NBSP -> plain space
                    for ch in s
                    if not (unicodedata.category(ch) == "Cc"
                            and ch not in "\n\t")
                )
            s = unicodedata.normalize(form, s)
            out.append(s)
        return pd.Series(out)

    return df.withColumn(dst, run(F.col(text_col)))
