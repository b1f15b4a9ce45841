"""Text-analysis operators for training-data pipelines.

All built from native pyspark.sql.functions (JVM-side, codegen) so they
stay cheap at 10^12-doc scale; each has an ANSI-SQL-expressible
equivalent used as its DuckDB oracle. A rolling-hash fingerprint
(python/numpy) exists for tests; the production fingerprint is md5
(identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# small, deterministic stopword marker sets per language — the lang-id
# heuristic counts occurrences of these space-delimited markers.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " die ", " und "],
    "es": [" el ", " los ", " y "],
}


def occurrences(col: Column, needle: str) -> Column:
    """Vectorized substring-occurrence count: (len - len(remove)) / len(needle)."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / F.lit(
        len(needle)
    )


def token_count(col: Column) -> Column:
    """Whitespace token count (single-space convention of the corpus)."""
    return F.size(F.split(col, " "))


def quality_score(col: Column) -> Column:
    """Deterministic quality heuristic in [0, ~1]:

    0.4 * min(1, len/500) + 0.3 * stopword-ratio + 0.3 * (1 - punct-ratio)

    Pure arithmetic on exact integer counts -> identical in any engine.
    """
    length = F.length(col)
    stop = occurrences(col, " the ") + occurrences(col, " and ") + occurrences(col, " of ")
    toks = token_count(col)
    punct = (
        occurrences(col, ".") + occurrences(col, ",") + occurrences(col, "!")
        + occurrences(col, "?")
    )
    return (
        F.lit(0.4) * F.least(F.lit(1.0), length / F.lit(500.0))
        + F.lit(0.3) * F.least(F.lit(1.0), stop * F.lit(10.0) / toks)
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.lit(1.0), punct * F.lit(5.0) / toks))
    )


def lang_id(col: Column) -> Column:
    """N-gram-marker language ID: argmax of per-language marker counts.

    Deterministic tie-break: language order en > fr > de > es ('und'
    beats nothing — first maximum wins via strict > comparisons).
    """
    scores = {
        lang: sum((occurrences(col, m) for m in markers), F.lit(0.0))
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    expr = F.lit(langs[-1])
    # build right-to-left: earlier languages win ties
    for lang in reversed(langs[:-1]):
        later = [scores[other] for other in langs[langs.index(lang) + 1 :]]
        cond = scores[lang] >= later[0]
        for o in later[1:]:
            cond = cond & (scores[lang] >= o)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint — md5 hex; bit-identical across engines."""
    return F.md5(col)


def tfidf(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-(document, term) TF-IDF over whitespace tokens:

        tfidf = tf * (ln((N + 1) / (df + 1)) + 1)

    (the smoothed-idf formula used by scikit-learn's TfidfTransformer,
    public). Returns ``(doc_id, term, tf:bigint, tfidf:double)``.

    Plan shape: explode tokens -> ONE (doc, term) hash aggregate (tf)
    -> ONE term hash aggregate (df, map-side partial) -> join tf-to-df
    on term (df side is |vocab| rows — tiny vs corpus, broadcast-able)
    -> cross-join the 1-row N. Two narrow shuffles total; everything
    whole-stage codegen, no Python.

    Cross-engine exactness: counts are exact ints; the division is done
    as double of exact ints in one fixed order; only ``ln`` can drift
    ~1 ulp between JVM and libm — callers gate-compare at
    ``round(tfidf, 6)`` per row (no cross-row float sums).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = toks.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n"))
    idf = F.log((F.col("n") + F.lit(1)).cast("double") / (F.col("df") + F.lit(1)).cast("double")) + F.lit(1.0)
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n))
        .select(F.col(id_col), "term", "tf", (F.col("tf") * idf).alias("tfidf"))
    )


def doc_ngrams(col: Column, n: int) -> Column:
    """Whitespace-token n-grams of ``col`` as an array of
    space-joined strings — one native transform/sequence Generate, no
    Python, no self-join. Guarded for <n-token docs (Spark's
    ``sequence(1, 0)`` DESCENDS — the r3 bigram_pmi lesson)."""
    toks = F.filter(F.split(col, " "), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "hits",
) -> DataFrame:
    """Benchmark decontamination — the training-data staple: find (or
    drop) corpus documents sharing any token n-gram with a benchmark /
    eval set (the GPT-3/PaLM 13-gram-overlap rule; n configurable).

    ``mode='hits'`` returns ``(id_col, dirty_grams:bigint)`` — per
    contaminated doc, how many DISTINCT n-grams it shares with the
    benchmark set. ``mode='clean'`` anti-joins those docs away;
    ``mode='dirty'`` semi-joins to keep only them.

    Plan shape (the 100-TB posture): the benchmark side is tiny by
    definition — its distinct-gram md5 set BROADCASTS; the corpus side
    is one native Generate (doc_ngrams) + array_distinct, a broadcast
    hash join, and one narrow per-doc count — the only shuffle is the
    final doc-keyed aggregate (none at all for 'clean'/'dirty', which
    plan as broadcast semi/anti of the hit ids). Joining on full md5
    (128-bit) rather than gram text keeps the probe slim with zero
    collision risk; the DuckDB oracle joins on the raw gram string —
    an independent formulation of the same predicate.
    """
    if mode not in ("hits", "clean", "dirty"):
        raise ValueError(f"mode must be hits|clean|dirty, got {mode!r}")
    bench_grams = (
        bench.select(F.explode(doc_ngrams(F.col(text_col), n)).alias("gram"))
        .select(F.md5("gram").alias("gk"))
        .distinct()
    )
    corp = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(doc_ngrams(F.col(text_col), n))).alias("gram"),
    ).select(id_col, F.md5("gram").alias("gk"))
    hit_rows = corp.join(F.broadcast(bench_grams), "gk")
    if mode == "hits":
        return hit_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("dirty_grams"))
    dirty_ids = hit_rows.select(id_col)
    how = "left_anti" if mode == "clean" else "left_semi"
    return docs.join(F.broadcast(dirty_ids), id_col, how)


def bigram_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    whitespace-token bigrams over the corpus.

        pmi = ln( (c_ab / N_pairs) / ((c_a / N_tok) * (c_b / N_tok)) )

    Returns ``(a, b, c_ab:bigint, pmi:double)`` for bigrams seen at
    least ``min_count`` times.

    Plan: adjacent pairs come from ONE native Generate over
    ``transform(sequence(1, n-1), ...)`` (element_at on the token
    array — no self-join, no window shuffle to pair neighbors); then a
    (a, b) hash aggregate, a token hash aggregate, and two broadcast
    joins of the tiny vocab side. Corpus-size scalars ride a 1-row
    cross join. Same exactness posture as tfidf: exact int counts, one
    fixed-order double expression, gate-compare at round(pmi, 6).
    """
    toks_arr = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    d = docs.select(toks_arr.alias("_toks"))
    uni = d.select(F.explode("_toks").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c")
    )
    # the where-guard is load-bearing: for size<2 docs Spark's
    # sequence(1, size-1) DESCENDS ([1,0]) and element_at(_toks, 0)
    # throws under ANSI — such docs contribute unigrams only
    pairs = d.where(F.size("_toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("a"),
                    F.element_at("_toks", i + 1).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    c_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    n_tok = uni.select(F.sum("c").alias("n_tok"))
    n_pair = c_ab.select(F.sum("c_ab").alias("n_pair"))
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("n_pair").cast("double"))
        / (
            (F.col("c_a").cast("double") / F.col("n_tok").cast("double"))
            * (F.col("c_b").cast("double") / F.col("n_tok").cast("double"))
        )
    )
    return (
        c_ab.where(F.col("c_ab") >= min_count)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
    )


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document, ALL as exact
    integers (fractions are the caller's division):

      n_tokens        whitespace tokens (empties dropped)
      n_trigrams      token 3-grams (0 when n_tokens < 3)
      n_dup_trigrams  n_trigrams - distinct trigrams (the classic
                      duplicate-n-gram repetition rule)
      top_tok_count   occurrences of the most frequent token (top-token
                      dominance rule)

    Plan: ZERO shuffles — trigram dedup is ``size - size(array_distinct)``
    on a per-row array, and the top-token count is a native ``aggregate``
    fold over the SORTED token array (longest equal-run scan, O(n log n)
    per doc) — no explode, no groupBy; the whole operator pipelines in
    one codegen stage. The oracle recomputes both via explode + GROUP BY
    (an independent formulation).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n = F.size(toks)
    tri = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),  # guarded: sequence DESCENDS for n<3
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sorted_toks = F.sort_array(toks)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top = F.aggregate(sorted_toks, zero, _step, lambda acc: acc["best"])
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.size(tri).alias("n_trigrams"),
        (F.size(tri) - F.size(F.array_distinct(tri))).alias("n_dup_trigrams"),
        top.alias("top_tok_count"),
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-language-model quality score: train add-one-smoothed
    token-bigram probabilities on the corpus itself, then score every
    document by its mean bigram log-likelihood (the classic
    perplexity-style quality filter — low scores flag gibberish /
    boilerplate relative to the corpus).

        p(b | a) = (c_ab + 1) / (c_a + V)

    where ``c_ab`` counts the bigram, ``c_a`` counts bigrams with left
    token a (so p sums to 1 over the smoothed vocab), and V is the
    corpus unigram vocabulary size.

    Exactness posture (same as operators/measures.py): each bigram's
    log-prob is quantized to MICRO-NATS with one fixed-shape IEEE
    expression — ``round(ln((c_ab+1)/(c_a+V)) * 1e6)`` cast bigint —
    then bigint-SUMmed per doc (order-free, exact), and the mean is a
    single integer/integer division. The one ulp-risky op is ln();
    micro-nat rounding absorbs ~1-ulp engine drift everywhere except a
    ~1e-10-wide boundary band.

    Returns ``(doc_id, n_bigrams:bigint, lm_score:double)``;
    documents with < 2 tokens get n_bigrams = 0 and NULL score.

    Plan: one Generate for pairs, two corpus-level hash aggregates
    (bigram + left counts, both map-side combinable), the vocab-size
    scalar on a 1-row cross join, two joins of pair rows against the
    count tables (broadcast when the vocab is small; shuffle hash
    otherwise — vocab rows ≪ pair rows either way), one per-doc
    aggregate.
    """
    toks_arr = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    d = docs.select(F.col(id_col).alias("doc_id"), toks_arr.alias("_toks"))
    # size<2 guard: sequence(1, size-1) DESCENDS for size<2 and
    # element_at(_toks, 0) throws under ANSI (same guard as bigram_pmi)
    pairs = d.where(F.size("_toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("a"),
                    F.element_at("_toks", i + 1).alias("b"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    c_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    c_a = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = d.select(F.explode("_toks").alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    logp_q = F.round(
        F.log(
            (F.col("c_ab") + 1).cast("double") / (F.col("c_a") + F.col("v")).cast("double")
        )
        * F.lit(1000000.0)
    ).cast("bigint")
    scored = (
        pairs.join(c_ab, ["a", "b"])
        .join(c_a, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(logp_q).alias("_sum_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("_sum_q").cast("double")
                / (F.col("n_bigrams") * F.lit(1000000)).cast("double")
            ).alias("lm_score"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias("n_bigrams"),
            "lm_score",
        )
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """C4-style global exact LINE deduplication: every distinct line in
    the corpus survives only at its FIRST occurrence — minimum
    (doc_id, position) — and every later occurrence (in the same or any
    other document) is dropped; documents are reassembled from their
    surviving lines in original order. This is the classic boilerplate
    killer (nav bars, cookie banners, license footers repeat verbatim
    across millions of pages).

    Returns ``(doc_id, text, n_lines, n_kept)`` for EVERY input doc
    (a doc whose lines all lost becomes the empty string).

    Plan: posexplode -> one hash aggregate on the line (min occurrence
    struct — map-side combinable, so a line repeated 10^6 times ships
    once per map task) -> one equi-join back on the line -> one
    per-doc regroup. All three shuffles are keyed and narrow; nothing
    driver-side. The DuckDB oracle recomputes the keeper with a
    row_number window — an independent formulation.
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    )
    keeper = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos")).alias("_k")
    )
    kept = (
        lines.join(keeper, "line")
        .where((F.col("doc_id") == F.col("_k.doc_id")) & (F.col("pos") == F.col("_k.pos")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.line,
                ),
                sep,
            ).alias("_text"),
        )
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), sep, -1)).cast("bigint").alias("n_lines"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("_text"), F.lit("")).alias("text"),
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
    )


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the Gopher-family
    diversity signal (near-zero entropy = one token repeated; high
    entropy = diverse vocabulary).

        H = (1/n) * sum_over_distinct_tokens c * ln(n / c)

    Exactness posture: per-distinct-token ``ln(n/c)`` is quantized to
    micro-nat bigints (the only ulp-risky op, absorbed by rounding),
    the weighted sum is exact int64, and the final mean is one
    integer/integer division — order-free, engine-identical.

    Returns (doc_id, n_tokens, n_distinct, entropy:double); docs with
    zero tokens get entropy NULL.

    Plan: one Generate + one (doc, token) hash aggregate + one per-doc
    aggregate; the per-doc total rides a window-free second aggregate
    joined back on doc_id (both map-side combinable).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias(
            "t"
        ),
    )
    per_tok = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_distinct")
    )
    term_q = F.round(
        F.log(F.col("n_tokens").cast("double") / F.col("c").cast("double"))
        * F.lit(1000000.0)
    ).cast("bigint")
    ent = (
        per_tok.join(per_doc, "doc_id")
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(F.sum(F.col("c") * term_q).alias("_s"))
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (
                F.col("_s").cast("double")
                / (F.col("n_tokens") * F.lit(1000000)).cast("double")
            ).alias("entropy"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(ent, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias("n_tokens"),
        F.coalesce(F.col("n_distinct"), F.lit(0).cast("bigint")).alias("n_distinct"),
        "entropy",
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Build a token -> sorted-posting-list inverted index (the search /
    retrieval primitive): one row per surviving token with its document
    frequency and the SORTED array of doc ids containing it.

    ``min_df`` / ``max_df`` bound which tokens keep postings — max_df
    is the stopword cap and also the HARD bound on the largest posting
    array a single row materializes (without it, 'the' at 10^12 docs
    is a row-sized OOM; pass None only on corpora you know).

    Plan: explode -> (doc, token) distinct -> token df aggregate ->
    df-band semi-join -> one collect_list regroup. All shuffles are
    keyed on the token; the df aggregate is map-side combinable.
    """
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias(
            "token"
        ),
    ).distinct()
    dfc = tk.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    keep = dfc.where(F.col("df") >= min_df)
    if max_df is not None:
        keep = keep.where(F.col("df") <= max_df)
    return (
        tk.join(keep, "token")
        .groupBy("token", "df")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings"))
        .select("token", "df", "postings")
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a byte-pair-encoding merge table (the GPT-2 ``bpe()`` loop,
    Sennrich et al. 2016) to every document — the tokenizer-apply step
    of a training-data pipeline, where corpus size is measured in
    TOKENS and this operator is what counts them.

    Spec (deterministic, engine-replayable — the q_bpe oracle is an
    independent scalar replay): pre-tokenize on single spaces; per
    word, start from its character sequence and repeatedly merge ALL
    occurrences (left-to-right) of the adjacent pair with the LOWEST
    merge rank until no adjacent pair is in the table. No end-of-word
    marker. ``merges`` order IS the rank order.

    Scale shape: ONE Arrow-batched mapInPandas stage, no shuffle; the
    merge table (real vocabularies: ~50k pairs) is closure-captured →
    broadcast once per executor. The kernel encodes each DISTINCT word
    once per Arrow batch (natural-language batches repeat words
    heavily, so the loop runs on the vocabulary, not the corpus) with
    an LRU-unbounded per-batch cache — bounded by the batch's distinct
    words, which Arrow batch sizing already bounds.

    Returns (id_col, n_words, n_tokens, tokens:array<string>).
    """
    import pandas as pd

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    if len(ranks) != len(merges):
        raise ValueError("duplicate merge pairs in the merge table")

    def _encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        sym = list(word)
        while len(sym) > 1:
            best_rank = None
            best = None
            for pair in zip(sym, sym[1:]):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best = r, pair
            if best is None:
                break
            merged = best[0] + best[1]
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == best[0] and sym[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        cache[word] = sym
        return sym

    def gen(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            ids, n_words, n_tokens, toks = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in (text or "").split(" ") if w]
                enc: list[str] = []
                for w in words:
                    enc.extend(_encode_word(w, cache))
                ids.append(did)
                n_words.append(len(words))
                n_tokens.append(len(enc))
                toks.append(enc)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "tokens": toks,
                }
            )

    id_type = dict(docs.dtypes)[id_col]
    return docs.select(id_col, text_col).mapInPandas(
        gen,
        f"{id_col} {id_type}, n_words int, n_tokens int, tokens array<string>",
    )


def duplicate_substrings(
    docs: DataFrame,
    gram_chars: int = 40,
    min_count: int = 2,
    stride: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-substring detection at CHARACTER granularity —
    the "deduplicating training data" primitive of Lee et al. 2021
    (ExactSubstr): any ``gram_chars``-long window of text occurring
    ``min_count``+ times across the corpus is a duplicated passage
    (boilerplate, licenses, quoted spam) that n-gram/MinHash DOC-level
    dedup (P3/P4) never sees when the surrounding document differs.

    Returns per-gram stats (gram_key:md5, n_docs, n_occurrences) for
    every duplicated window — join back on
    ``md5(substring(text, pos, gram_chars))`` to locate/excise spans
    (q_dup_substr_spans does exactly that).

    Plan: one native sequence Generate (a row per window START — with
    ``stride`` s, positions 1, 1+s, 1+2s, ...), substring+md5 in
    whole-stage codegen, ONE md5-keyed hash aggregate whose map-side
    combine collapses hot grams per task. Row volume is total_chars /
    stride: at 100 TB run stride 10-50 exactly as the paper's suffix-
    array implementation samples — a duplicated passage of length
    L >> gram_chars still yields overlapping hits at any stride <=
    L - gram_chars.
    """
    if gram_chars < 1 or stride < 1 or min_count < 1:
        raise ValueError(
            f"gram_chars/stride/min_count must be >= 1, got "
            f"{gram_chars}/{stride}/{min_count}"
        )
    # sequence(1, 0) DESCENDS in Spark (recorded bigram_pmi lesson) —
    # sub-gram docs must be filtered out, not clamped
    g = docs.where(F.length(F.col(text_col)) >= gram_chars).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.sequence(
                F.lit(1),
                F.length(F.col(text_col)) - F.lit(gram_chars - 1),
                F.lit(stride),
            )
        ).alias("_pos"),
        F.col(text_col).alias("_t"),
    ).select(
        "_id",
        F.md5(F.expr(f"substring(_t, _pos, {int(gram_chars)})")).alias("gram_key"),
    )
    return (
        g.groupBy("gram_key")
        .agg(
            F.count_distinct(F.col("_id")).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )


def _apply_merge(tokens: F.Column, a: str, b: str) -> F.Column:
    """One BPE merge applied to a symbol array, as a native fold:
    left-to-right, non-overlapping — equivalent to the scan in
    bpe_encode's kernel because a merged symbol a+b is strictly longer
    than a, so it can never re-match as the left element of the same
    pair within the round."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        tokens,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, t: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (t == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 20,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """LEARN a byte-pair-encoding merge table from the corpus (Sennrich
    et al. 2016) — the training side of :func:`bpe_encode`:

        repeat n_merges times:
          count adjacent symbol pairs over the DISTINCT-word vocabulary,
          weighted by word frequency; merge the most frequent pair
          (ties: lexicographically smallest (left, right)); stop early
          when the best count < min_pair_count.

    Returns [(left, right, pair_count), ...] in rank order — feed
    [(l, r) for l, r, _ in result] straight into ``bpe_encode``.

    Scale shape: the corpus is scanned ONCE (the word-frequency
    aggregate); every round then runs over the DISTINCT-word vocabulary
    only — pair counting is a native transform/sequence Generate + one
    hash agg (map-side combinable), the merge application is a native
    fold, and the only driver traffic per round is the 1-row argmax
    (inherent: each merge is a global decision — this is why real BPE
    training samples or caps the corpus, not because counting doesn't
    scale). A lazy localCheckpoint per round keeps the plan
    constant-size (the graph.py rounds pattern).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = words.select(
        "freq",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "toks"
        ),
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = state.where(F.size("toks") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS a, "
                    "element_at(toks, i + 1) AS b))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        state = state.select(
            "freq", _apply_merge(F.col("toks"), a, b).alias("toks")
        ).localCheckpoint(eager=False)
    return merges


def bm25(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance scores for one query over the corpus — the
    retrieval-ranking step on top of the inverted_index surface:

        idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)       (Lucene form)
        score   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    over whitespace tokens; ``dl`` = doc token count, ``avgdl`` = mean
    over ALL docs (including non-matching ones). Returns
    ``(doc_id, n_hits, score)`` for every document matching >= 1 term.

    Plan shape: one (doc, term) tf aggregate restricted to the query
    terms (the term filter pushes into the token Generate's output —
    the scan never shuffles non-query tokens), one tiny df aggregate
    over |terms| rows, per-doc length agg, and a broadcast of the
    |terms|-row idf table + 1-row corpus stats. Two narrow shuffles;
    everything whole-stage codegen, no Python.

    Cross-engine exactness: counts exact ints; the per-(doc, term)
    float chain is fixed-order; ``ln`` drifts ~1 ulp between JVM and
    libm, so callers gate-compare at round(score, 6) per row (no
    cross-row float sums beyond |terms| <= ~10 adds — the same posture
    as tfidf / bigram_pmi).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t for t in dict.fromkeys(query_terms)]  # dedup, keep order

    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = docs.select(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        toks.select(F.count(F.lit(1)).alias("n_toks"))
    )
    hits = toks.where(F.col("term").isin(terms))
    tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = hits.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    # avgdl as the exact-int ratio n_toks / n_docs, divided ONCE
    avgdl = F.col("n_toks").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfc = F.col("tf").cast("double")
    denom = tfc + F.lit(float(k1)) * (
        F.lit(1.0 - float(b)) + F.lit(float(b)) * F.col("dl").cast("double") / avgdl
    )
    term_score = idf * tfc * F.lit(float(k1) + 1.0) / denom
    return (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(term_score).alias("score"),
        )
    )


# ------------------------- URL parse / normalize -------------------------

# Engine-portable regex subset only (character classes, groups, anchors
# — no backrefs/lookaround), so Spark's Java regex and DuckDB's RE2
# agree; both return '' for a non-matching regexp_extract group.
_URL_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)"
_URL_PORT_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#:]*:([0-9]+)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"
_URL_QUERY_RE = r"\?([^#]*)"
_URL_FRAG_RE = r"#(.*)$"
_URL_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def url_parse(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Split absolute URLs into (scheme, host, port, path, query,
    fragment) string columns — the crawl-pipeline pre-step for host
    bucketing, robots grouping and URL dedup. Pure regexp projection:
    whole-stage codegen, no shuffle, no UDF. Components that are
    absent come back as '' (the regexp_extract convention on BOTH
    engines), never NULL — so downstream concat never NULL-poisons.
    """
    u = F.col(url_col)
    return df.withColumns(
        {
            "scheme": F.regexp_extract(u, _URL_SCHEME_RE, 1),
            "host": F.regexp_extract(u, _URL_HOST_RE, 1),
            "port": F.regexp_extract(u, _URL_PORT_RE, 1),
            "path": F.regexp_extract(u, _URL_PATH_RE, 1),
            "query": F.regexp_extract(u, _URL_QUERY_RE, 1),
            "fragment": F.regexp_extract(u, _URL_FRAG_RE, 1),
        }
    )


def url_normalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical URL key + registrable-domain-ish grouping column —
    the exact-dedup key for crawl corpora (the first dedup any web
    pipeline runs is URL-normalized exact match).

    Normalization spec (deterministic, documented, engine-replayable):
    lowercase scheme and host; drop the port when it is the scheme
    default (http:80 / https:443) or empty; empty path becomes '/',
    else ONE trailing slash is stripped (path '/' stays); query kept
    verbatim when non-empty ('?' re-attached); fragment dropped.
    Appends ``url_norm`` and ``domain`` (last two host labels — a
    heuristic, not the public-suffix list, and documented as such).

    Plan: url_parse's regexp projection + native string ops — no
    shuffle, no UDF; at 10^12 URLs this is a map-only pass.
    """
    parsed = url_parse(df, url_col)
    scheme_l = F.lower(F.col("scheme"))
    host_l = F.lower(F.col("host"))
    port = F.col("port")
    drop_port = (
        (port == F.lit(""))
        | ((scheme_l == F.lit("http")) & (port == F.lit("80")))
        | ((scheme_l == F.lit("https")) & (port == F.lit("443")))
    )
    port_part = F.when(drop_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path = F.col("path")
    path_n = (
        F.when(path.isin("", "/"), F.lit("/"))
        .otherwise(F.regexp_replace(path, r"/$", ""))
    )
    query_part = F.when(F.col("query") == F.lit(""), F.lit("")).otherwise(
        F.concat(F.lit("?"), F.col("query"))
    )
    return parsed.withColumns(
        {
            "url_norm": F.concat(
                scheme_l, F.lit("://"), host_l, port_part, path_n, query_part
            ),
            "domain": F.regexp_extract(host_l, _URL_DOMAIN_RE, 1),
        }
    )


def nb_classify(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes over whitespace tokens — the classic
    corpus-quality / language classifier of LLM data pipelines (the
    role fastText plays in public web-corpus recipes), trained and
    applied wholly inside the engine.

        p(label | doc) ∝ p(label) * Π_tok p(tok | label)
        p(tok | label) = (c_lt + 1) / (t_l + V)     [add-one smoothing]

    Exactness posture (bigram_lm_score discipline): every token
    log-likelihood and the log-prior are quantized to MICRO-NATS with
    one fixed-shape IEEE chain — round(ln(int/int) * 1e6) cast bigint
    — then bigint-SUMmed per (doc, label) (order-free, exact), so the
    winning label and its score are gate-hashable; ties broken by
    label ascending (deterministic). Unseen tokens score with c = 0
    under the same smoothed formula; V is the TRAIN vocabulary.

    Returns ``(doc_id, pred_label, score_q:bigint, n_toks:bigint)``;
    zero-token documents are classified by priors alone.

    Plan: two corpus aggregates on the train side (per-(label,token)
    counts + per-label totals), tiny broadcast label/V/N dims, one
    |score tokens| x |labels| term expansion (labels are few — the
    documented fanout), one (doc,label) aggregate, one ranking window.
    All native; no Python anywhere.
    """
    from pyspark.sql import Window

    def toks(df: DataFrame, keep: F.Column, alias: str) -> DataFrame:
        arr = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        return df.select(keep.alias(alias), F.explode(arr).alias("tok"))

    ttok = toks(train, F.col(label_col), "_lbl")
    c = ttok.groupBy("_lbl", "tok").agg(F.count(F.lit(1)).alias("_c"))
    t = ttok.groupBy("_lbl").agg(F.count(F.lit(1)).alias("_t"))
    v = ttok.agg(F.count_distinct("tok").alias("_v"))
    nrow = train.agg(F.count(F.lit(1)).alias("_n"))
    micro = F.lit(1000000.0)
    labels = (
        train.groupBy(F.col(label_col).alias("_lbl"))
        .agg(F.count(F.lit(1)).alias("_nd"))
        .join(t, "_lbl", "left")
        .crossJoin(F.broadcast(nrow))
        .crossJoin(F.broadcast(v))
        .select(
            "_lbl",
            F.coalesce(F.col("_t"), F.lit(0).cast("bigint")).alias("_t"),
            "_v",
            F.round(
                F.log(F.col("_nd").cast("double") / F.col("_n").cast("double"))
                * micro
            )
            .cast("bigint")
            .alias("_prior_q"),
        )
    )
    stok = toks(score, F.col(id_col), "_did")
    terms = (
        stok.crossJoin(F.broadcast(labels.select("_lbl", "_t", "_v")))
        .join(c, ["_lbl", "tok"], "left")
        .select(
            "_did",
            "_lbl",
            F.round(
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + 1).cast("double")
                    / (F.col("_t") + F.col("_v")).cast("double")
                )
                * micro
            )
            .cast("bigint")
            .alias("_lq"),
        )
    )
    sums = terms.groupBy("_did", "_lbl").agg(
        F.sum("_lq").alias("_s"), F.count(F.lit(1)).alias("_nt")
    )
    grid = score.select(F.col(id_col).alias("_did")).crossJoin(
        F.broadcast(labels.select("_lbl", "_prior_q"))
    )
    tot = grid.join(sums, ["_did", "_lbl"], "left").select(
        "_did",
        "_lbl",
        (F.col("_prior_q") + F.coalesce(F.col("_s"), F.lit(0).cast("bigint")))
        .alias("score_q"),
        F.coalesce(F.col("_nt"), F.lit(0).cast("bigint")).alias("n_toks"),
    )
    w = Window.partitionBy("_did").orderBy(
        F.col("score_q").desc(), F.col("_lbl").asc()
    )
    return (
        tot.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("_did").alias(id_col),
            F.col("_lbl").alias("pred_label"),
            "score_q",
            "n_toks",
        )
    )


# PII patterns: the ENGINE-PORTABLE regex subset (url_parse posture —
# no lookaround, no backrefs, no \b/\d shorthands), so Spark's Java
# regex and DuckDB's RE2 match the identical leftmost-non-overlapping
# spans. Masking applies IN LIST ORDER on the progressively-masked
# string (email first: an IP-looking mail host is the email's problem,
# not a second finding).
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("phone", "[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,9}", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
]


def pii_scan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Syntactic PII scan + mask over plain text — the crawl-pipeline
    compliance pass (emails / phone numbers / IPv4 addresses) every
    public web-corpus recipe runs before training. SYNTACTIC by
    design: `10.0.0.1`-shaped version strings count as IPs — the spec
    is the regex, auditable and engine-replayable, not a model.

    Per class: ``n_<class>`` = number of leftmost-non-overlapping
    matches (counted on the string as masked by the PRIOR classes, in
    ``_PII_PATTERNS`` order, so one span is never double-reported);
    ``masked`` = the text with every match replaced by its tag.

    Returns ``(doc_id, n_email, n_phone, n_ipv4, n_pii, masked)``.

    Plan: pure native projection (regexp_extract_all + chained
    regexp_replace), map-only, zero shuffles, whole-stage codegen. The
    oracle runs the same patterns on DuckDB's RE2 — two independent
    regex ENGINES must agree (the url_normalize posture).
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, tag in _PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, tag)
    total = None
    for name, _, _ in _PII_PATTERNS:
        t = F.col(f"n_{name}")
        total = t if total is None else total + t
    return docs.select(F.col(id_col).alias("doc_id"), *counts, cur.alias("masked")).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        total.cast("bigint").alias("n_pii"),
        "masked",
    )


def feature_hash(
    docs: DataFrame,
    dim: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009; sklearn's
    HashingVectorizer): map each whitespace token to a feature index
    ``idx = md5_40(token) % dim`` with a signed contribution
    ``+1 / -1`` drawn from md5 nibble 11, and sum contributions per
    (doc, idx) — the fixed-width, vocabulary-free featurization every
    streaming/distributed text-ML pipeline starts from (no global
    dictionary to build or ship; collisions cancel in expectation via
    the sign bit).

    Engine-portable spec: md5 is the repo's cross-engine hash; the
    40-bit hex prefix -> bigint is the same conv(substr(h,1,10),16,10)
    the sampling/ranking ops use, and weights are exact int64 sums of
    +/-1 — no floats anywhere, so the gate hashes every row.

    Returns ``(doc_id, idx:int, weight:bigint)``; rows where signed
    collisions cancel to 0 are KEPT (the count is part of the spec).

    Plan: split + explode + md5 are one codegen map stage; the only
    shuffle is the (doc, idx) partial-agg groupBy. Output <= tokens,
    typically ~min(tokens, dim) rows per doc.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    tok = F.explode(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    ).alias("term")
    h = F.md5(F.col("term"))
    idx = F.pmod(F.conv(F.substring(h, 1, 10), 16, 10).cast("bigint"), F.lit(dim))
    sign = F.lit(1) - F.lit(2) * F.pmod(
        F.conv(F.substring(h, 11, 1), 16, 10).cast("bigint"), F.lit(2)
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), tok)
        .select("doc_id", idx.cast("int").alias("idx"), sign.alias("_s"))
        .groupBy("doc_id", "idx")
        .agg(F.sum("_s").cast("bigint").alias("weight"))
    )


RAKE_STOPWORDS = (
    "a", "an", "and", "are", "at", "be", "by", "for", "in", "is", "it",
    "of", "on", "or", "that", "the", "this", "to", "with",
)


def rake_keywords(
    docs: DataFrame,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word w gets corpus-wide
    ``freq(w)`` = occurrences in candidates and ``deg(w)`` = sum of
    the lengths of the phrases it occurs in (self included); a
    phrase's score sums its words' ``deg/freq`` ratios — long,
    co-occurring multi-word phrases outrank bare frequent words. The
    unsupervised keyword/tag extractor of corpus-exploration and
    weak-labeling pipelines.

    EXACT-INTEGER spec: freq and deg are exact int64 counts; the word
    ratio is quantized as ``score_q(w) = (deg * 10^6) DIV freq``
    (nonnegative operands — Spark's truncating DIV == DuckDB's // ==
    Python floor) and a phrase's ``score_q`` is the int64 sum over its
    words WITH multiplicity — deterministic under any partitioning,
    gate-hashable. Ties rank (score_q DESC, phrase ASC).

    Tokenization: lowercase, whitespace split (the repo's portable
    tokenizer); repeated phrase occurrences count into freq/deg but
    the output lists each distinct (doc, phrase) once.

    Returns ``(doc_id, phrase, n_words, score_q, rank)`` — top_k
    phrases per doc.

    Plan: one doc-keyed Window pair (island ids + phrase assembly ride
    the same per-doc sort), one corpus word aggregate (shuffle carries
    distinct-ish words), one word-score equi-join back, one phrase
    aggregate, one per-doc top-k ranking window (WindowGroupLimit
    pushes the k cut before the final sort). Word stats are corpus-
    GLOBAL — the signal that makes RAKE work at 100 TB is exactly the
    shared aggregate, and its shuffle is bounded by |vocab| x
    partitions after map-side combine.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    from pyspark.sql import Window

    sw = F.array(*[F.lit(s) for s in stopwords])
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
        ).alias("pos", "term"),
    ).withColumn("_stop", F.array_contains(sw, F.col("term")))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        toks.withColumn("run", F.sum(F.col("_stop").cast("int")).over(w))
        .where(~F.col("_stop"))
        .select("doc_id", "run", "pos", "term")
    )
    phrases = runs.groupBy("doc_id", "run").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "term"))),
            lambda s: s["term"],
        ).alias("words")
    )
    occurrences = phrases.select(
        "doc_id",
        F.array_join("words", " ").alias("phrase"),
        F.size("words").alias("n_words"),
        F.explode("words").alias("term"),
    )
    word_scores = occurrences.groupBy("term").agg(
        F.sum("n_words").alias("_deg"), F.count(F.lit(1)).alias("_freq")
    ).select(
        "term", F.expr("(_deg * 1000000L) DIV _freq").alias("_ws")
    )
    scored = (
        occurrences.join(word_scores, "term")
        .groupBy("doc_id", "phrase", "n_words")
        .agg(
            F.sum("_ws").alias("_psum"),
            F.count(F.lit(1)).alias("_occ"),
        )
        # _psum counted every occurrence of the phrase (k identical
        # word multisets -> k * S), so one phrase score is exactly
        # S = _psum * n_words DIV _occ with zero remainder
        .select(
            "doc_id",
            "phrase",
            "n_words",
            F.expr("(_psum * n_words) DIV _occ").alias("score_q"),
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("phrase").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "phrase", "n_words", "score_q", "rank")
    )


def span_corruption(
    df: "DataFrame",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    seed: int = 1,
    span_len: int = 3,
    noise_ppm: int = 150_000,
) -> "DataFrame":
    """T5-style span-corruption training pairs from a token-array
    column: contiguous ``span_len``-token windows are masked with
    probability ``noise_ppm``/10^6; each masked window is replaced by
    ONE ``<extra_id_k>`` sentinel in the encoder input, and the target
    is the sentinel-delimited concatenation of the masked spans.

    Deterministic spec (engine-replayable, no RNG): window ``w = pos
    DIV span_len`` is masked iff ``md5_40(seed:doc:w) % 10^6 <
    noise_ppm`` (the stratified_sample md5-threshold posture); sentinel
    ordinal k = number of masked windows at or before w, minus 1 —
    computed as a running count of masked-window FIRST rows, so no
    (doc,w)-level join is needed.

    Returns ``(doc_id, n_tokens, n_spans, n_masked, inputs:
    array<string>, targets: array<string>, input_text, target_text)``.

    Plan: posexplode → one per-doc window (running count) → one
    groupBy(doc) with ``array_sort(collect_list(struct(...)))`` +
    native transform/filter/flatten assembly (the way-assembly
    regroup discipline — collect_list alone is NOT order-stable).
    ONE shuffle on doc_id; no Python.
    """
    t = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(F.col(tokens_col)).alias("_pos", "_tok"),
    )
    w_id = F.expr(f"_pos DIV {span_len}")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}:"),
                    F.col("_doc").cast("string"),
                    F.lit(":"),
                    w_id.cast("string"),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    t = t.select(
        "_doc",
        "_pos",
        "_tok",
        (F.pmod(h, F.lit(1_000_000)) < noise_ppm).alias("_m"),
        (F.pmod(F.col("_pos"), F.lit(span_len)) == 0).alias("_isf"),
    )
    wcum = (
        Window.partitionBy("_doc")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn(
        "_k",
        F.sum((F.col("_m") & F.col("_isf")).cast("bigint")).over(wcum)
        - F.lit(1),
    )
    arr = F.array_sort(
        F.collect_list(F.struct("_pos", "_tok", "_m", "_isf", "_k"))
    )
    per = t.groupBy(F.col("_doc").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("_m") & F.col("_isf")).cast("bigint")).alias("n_spans"),
        F.sum(F.col("_m").cast("bigint")).alias("n_masked"),
        arr.alias("_arr"),
    )
    inputs = F.filter(
        F.transform(
            F.col("_arr"),
            lambda x: F.when(~x["_m"], x["_tok"]).when(
                x["_isf"],
                F.concat(F.lit("<extra_id_"), x["_k"], F.lit(">")),
            ),
        ),
        lambda v: v.isNotNull(),
    )
    targets = F.flatten(
        F.transform(
            F.col("_arr"),
            lambda x: F.when(
                x["_m"] & x["_isf"],
                F.array(
                    F.concat(F.lit("<extra_id_"), x["_k"], F.lit(">")),
                    x["_tok"],
                ),
            )
            .when(x["_m"], F.array(x["_tok"]))
            .otherwise(F.array().cast("array<string>")),
        )
    )
    return per.select(
        id_col,
        "n_tokens",
        "n_spans",
        "n_masked",
        inputs.alias("inputs"),
        targets.alias("targets"),
    ).withColumns(
        {
            "input_text": F.array_join(F.col("inputs"), " "),
            "target_text": F.array_join(F.col("targets"), " "),
        }
    )


def textrank_keywords(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 16,
    iterations: int = 4,
    top_k: int = 25,
    scale: int = 10**9,
) -> "DataFrame":
    """TextRank keyword extraction (Mihalcea & Tarau) — corpus-level
    keywords as the PageRank of the token-adjacency graph: adjacent
    tokens (window 2) are undirected edges; rank via the repo's
    INTEGER-quantized :func:`osm_pbf_spark.operators.graph.pagerank`
    (gate-hashable — float PR sums doubles in shuffle order). Returns
    the global ``top_k`` rows ``(token, rank)``, ties broken by token
    ascending.

    Plan: split/slice → one per-doc window (lead) for adjacency →
    distinct symmetric edges → the pagerank fixed-round loop (two
    shuffles per round, no driver actions) → a vocab-sized top-k sort.
    """
    from osm_pbf_spark.operators.graph import pagerank

    t = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(
            F.slice(F.split(F.col(text_col), " "), 1, max_tokens)
        ).alias("_pos", "_tok"),
    )
    w = Window.partitionBy("_doc").orderBy("_pos")
    adj = t.select(
        F.col("_tok").alias("_a"), F.lead("_tok").over(w).alias("_b")
    ).where(F.col("_b").isNotNull() & (F.col("_a") != F.col("_b")))
    e = (
        adj.select(F.col("_a").alias("src"), F.col("_b").alias("dst"))
        .union(adj.select(F.col("_b").alias("src"), F.col("_a").alias("dst")))
        .distinct()
    )
    ranks = pagerank(e, iterations=iterations, scale=scale)
    return (
        ranks.select(F.col("node").alias("token"), "rank")
        .orderBy(F.col("rank").desc(), F.col("token").asc())
        .limit(top_k)
    )


def ip_to_int(col: "F.Column") -> "F.Column":
    """Dotted-quad IPv4 string -> uint32-as-bigint, NULL for anything
    that is not a valid a.b.c.d with octets 0-255 (native split +
    range-checked casts — no regex backtracking, no Python)."""
    parts = F.split(col, "[.]")
    # try_element_at + try_cast: ANSI element_at THROWS on short arrays
    # ("x.y") and CAST throws on non-numeric octets ("not-an-ip").
    # try_cast alone is too lenient ("01", " 1", "+1" all parse) — a
    # canonical-decimal rlike per octet keeps non-canonical quads NULL,
    # as the cidr_join invalid-input contract promises.
    raw = [F.try_element_at(parts, F.lit(i + 1)) for i in range(4)]
    octs = [r.try_cast("bigint") for r in raw]
    valid = F.size(parts) == 4
    for r, o in zip(raw, octs):
        valid = (
            valid
            & r.rlike("^(0|[1-9][0-9]{0,2})$")
            & o.isNotNull()
            & (o >= 0)
            & (o <= 255)
        )
    packed = ((octs[0] * 256 + octs[1]) * 256 + octs[2]) * 256 + octs[3]
    return F.when(valid, packed)


def cidr_join(
    ips: DataFrame,
    networks: DataFrame,
    ip_col: str = "ip",
    cidr_base_col: str = "base",
    masklen_col: str = "masklen",
    bucket_bits: int = 16,
) -> DataFrame:
    """IP -> network containment join with LONGEST-PREFIX-MATCH (r4):
    the geo-IP / ASN / allowlist enrichment every log-scale pipeline
    runs. Each ip row gets the single most-specific network containing
    it (largest masklen; exact-int tie impossible — equal masklen +
    containment implies the same network), or NULL columns if none.

    Inputs: ``ips[ip_col]`` dotted-quad strings (invalid ones pass
    through with NULL network columns, never dropped — they are the
    rows an audit wants to see); ``networks`` carries dotted-quad
    ``cidr_base_col`` + integer ``masklen_col`` in [0, 32]. Bases are
    canonicalized by masking host bits (10.1.2.3/8 == 10.0.0.0/8).

    Scale plan — the interval_join shape on the 32-bit address line:
    each network explodes to the /``bucket_bits`` buckets its range
    covers with a native ``sequence`` Generate (a /k network covers
    max(1, 2^(bucket_bits - k)) buckets; hot default /16 = one row for
    every network with masklen >= 16), each ip computes its bucket,
    ONE equi-join on the bucket, exact BETWEEN refine, then a
    min-struct argmax keeps the longest prefix. No broadcast needed
    (the network side can be millions of rows), no theta join.

    Returns ips.* + (net_base, net_masklen) as bigint/int (NULL when
    unmatched).
    """
    if not 0 <= int(bucket_bits) <= 32:
        raise ValueError(f"bucket_bits must be in [0, 32], got {bucket_bits}")
    shift = 32 - int(bucket_bits)
    ml = F.col(masklen_col).cast("int")
    nets = networks.where(
        F.when((ml >= 0) & (ml <= 32), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("cidr_join: masklen out of [0,32]: "),
                    ml.cast("string"),
                )
            )
        )
    )
    base_i = ip_to_int(F.col(cidr_base_col))
    # column shift count: F.shiftleft only takes a literal (recorded
    # lesson) — column shifts go through expr
    size = F.expr(f"shiftleft(CAST(1 AS BIGINT), 32 - CAST({masklen_col} AS INT))")
    lo = (base_i - base_i % size).alias("_lo")  # mask host bits
    nets = nets.select(
        lo,
        ml.alias("_ml"),
    ).where(F.col("_lo").isNotNull())
    nets = nets.select(
        "_lo",
        "_ml",
        (F.col("_lo") + F.expr("shiftleft(CAST(1 AS BIGINT), 32 - _ml)") - 1).alias("_hi"),
    )
    nb = nets.select(
        "_lo",
        "_hi",
        "_ml",
        F.explode(
            F.sequence(
                F.shiftrightunsigned(F.col("_lo"), shift),
                F.shiftrightunsigned(F.col("_hi"), shift),
            )
        ).alias("_bkt"),
    )
    ipd = ips.withColumn("_ipi", ip_to_int(F.col(ip_col)))
    # per-DISTINCT-ip matching (the dedup exact-collapse pattern):
    # the winning network depends only on the address, so match the
    # distinct addresses, then ONE left join back — duplicate input
    # rows cost nothing extra and pass through untouched
    dips = ipd.select("_ipi").where(F.col("_ipi").isNotNull()).distinct()
    cand = dips.withColumn(
        "_bkt", F.shiftrightunsigned(F.col("_ipi"), shift)
    ).join(nb, "_bkt").where(
        F.col("_ipi").between(F.col("_lo"), F.col("_hi"))
    )
    best = cand.groupBy("_ipi").agg(
        F.min(
            F.struct((-F.col("_ml")).alias("_nml"), F.col("_lo").alias("_lo"))
        ).alias("_m")
    )
    return (
        ipd.join(best, "_ipi", "left")
        .select(
            *ips.columns,
            F.col("_m._lo").alias("net_base"),
            (-F.col("_m._nml")).cast("int").alias("net_masklen"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """MOSS winnowing document fingerprints (Schleimer et al. 2003,
    r4) — the guaranteed-coverage local fingerprint family beside the
    global MinHash/SimHash sketches: any shared run of ``k + window -
    1`` tokens between two documents shares at least one fingerprint
    (the winnowing theorem), which is what plagiarism / license-text /
    near-copy SPAN detection needs and doc-level sketches cannot give.

    Spec (engine-replayable, no floats): token k-grams (whitespace
    tokens joined by a single space), gram hash = 40-bit md5
    (conv(substr(md5, 1, 10))); every ``window`` consecutive gram
    hashes select their minimum, ties to the RIGHTMOST position (the
    paper's rule, via a sliding min over (hash << 21 | ~pos) packed
    int64 keys — no struct comparisons, trivially engine-portable);
    fingerprints
    are the DISTINCT (pos, hash) selections per doc. Docs with fewer
    than ``k + window - 1`` tokens emit nothing (no complete window).

    Plan: ONE map-only Arrow-batched mapInPandas kernel — no explode,
    no shuffle, no window Exchange at all (a fingerprint set is a
    per-document fact). The r4 JVM-window formulation (posexplode +
    k-1 lead()s + a w-row min frame + distinct) measured 0.283 resized
    scaling efficiency: per-row window state over n-token explosions
    was the bottleneck. The kernel replaces it with the simhash
    batching discipline: distinct k-grams in the batch hash once
    (md5 reuse cache), the sliding min is w-1 vectorized np.minimum
    passes over the packed (hash << 21 | ~pos) int64 keys, and the
    per-doc distinct is one np.unique. Spec and output bits are
    UNCHANGED.

    Returns (doc_id, pos, fp_hash): pos is the 0-based token index of
    the selected k-gram.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got {k}/{window}")
    import hashlib

    import numpy as np
    import pandas as pd

    id_type = df.schema[doc_col].dataType.simpleString()
    out_schema = f"doc_id {id_type}, pos long, fp_hash long"
    min_toks = k + window - 1
    LIMIT = 1 << 21
    kk, ww = int(k), int(window)

    def kernel(it):
        cache: dict = {}
        for pdf in it:
            ids: list = []
            poss: list = []
            hashes: list = []
            for did, text in zip(pdf[doc_col], pdf[text_col]):
                toks = [t for t in (text or "").split(" ") if t]
                n = len(toks)
                if n < min_toks:
                    continue
                n_grams = n - kk + 1
                if n_grams > LIMIT:
                    raise ValueError(
                        f"winnow_fingerprints: doc too long (pos >= 2^21) in {did}"
                    )
                keys = np.empty(n_grams, dtype=np.int64)
                for p in range(n_grams):
                    g = " ".join(toks[p : p + kk])
                    h = cache.get(g)
                    if h is None:
                        h = int.from_bytes(
                            hashlib.md5(g.encode("utf-8")).digest()[:5], "big"
                        )
                        if len(cache) >= 1_000_000:
                            cache.clear()
                        cache[g] = h
                    # pack (hash, rightmost-tie pos) into ONE int64 so
                    # the sliding min needs no struct comparisons:
                    # min key == (min hash, max pos) by construction
                    keys[p] = (h << 21) | (LIMIT - 1 - p)
                acc = keys[ww - 1 :].copy()
                for i in range(1, ww):
                    np.minimum(acc, keys[ww - 1 - i : n_grams - i], out=acc)
                sel = np.unique(acc)
                ids.extend([did] * len(sel))
                poss.append((LIMIT - 1) - (sel & (LIMIT - 1)))
                hashes.append(sel >> 21)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "pos": np.concatenate(poss),
                        "fp_hash": np.concatenate(hashes),
                    }
                )

    return df.select(doc_col, text_col).mapInPandas(kernel, out_schema)


def scrub_text(col: "F.Column", lowercase: bool = False) -> "F.Column":
    """Deterministic text SCRUB (r5) — the first normalization pass of
    every training-data pipeline, applied before token counting /
    dedup signatures so byte-level junk cannot fracture them: strip
    C0/C1 control characters (including DEL but NOT the \\t\\n\\v\\f\\r
    whitespace controls — those collapse, not vanish), collapse every
    whitespace run to ONE space, trim the ends, optionally lowercase.
    Pure codegen regexp chain — identical regex semantics in any
    RE2/ICU-class engine (the oracle replays it verbatim with the 'g'
    flag).

    Compose into any select; pairs with token_count/quality upstream.
    """
    out = F.regexp_replace(col, "[\\x00-\\x08\\x0e-\\x1f\\x7f-\\x9f]", "")
    out = F.regexp_replace(out, "\\s+", " ")
    out = F.trim(out)
    if lowercase:
        out = F.lower(out)
    return out


def flesch_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease QUALITY SCORE (r5) — the classic
    readability signal beside the length/punct/stopword quality
    family: 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    words), with the standard deterministic approximations —
    sentences = [.!?]+ runs (min 1), words = whitespace tokens,
    syllables = [aeiouyAEIOUY]+ vowel-group runs (min 1 per word,
    enforced in aggregate as max(syl, words)).

    EXACT counting: all three counts are integer regexp counts; the
    score is pure rational arithmetic over them (no transcendentals),
    so both engines produce bit-identical doubles. Docs with zero
    words score NULL.

    Returns (id_col, n_words, n_sentences, n_syllables, flesch).
    Pure-codegen map-only plan.
    """
    t = F.col(text_col)
    words = F.size(F.filter(F.split(t, "\\s+"), lambda x: x != ""))
    sents = F.greatest(F.regexp_count(t, F.lit("[.!?]+")), F.lit(1))
    syl = F.regexp_count(t, F.lit("[aeiouyAEIOUY]+"))
    out = df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        F.greatest(syl, words).cast("long").alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / w)
    )
    return out.withColumn(
        "flesch", F.when(F.col("n_words") > 0, F.round(score, 6))
    )
