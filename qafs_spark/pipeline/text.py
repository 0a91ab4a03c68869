"""Text analysis over document tables — pure Spark column expressions.

Everything here compiles to JVM-side Catalyst expressions (no UDFs): at
100 TB these run inside whole-stage codegen directly over the Parquet scan,
with column pruning ensuring only ``text`` is read.

Deterministic by construction so results are oracle-checkable against a SQL
engine (the same formulas are mirrored in ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword-voting
# language-ID heuristic. Ordered dict: ties resolve to the earlier language.
LANG_STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "por", "para"],
}

DEFAULT_STOPWORDS = LANG_STOPWORDS["en"]

# BPE-ish token regex: words, numbers, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text → empty array."""
    t = F.split(F.trim(col), r"\s+")
    return F.when(F.length(F.trim(col)) == 0, F.array().cast("array<string>")).otherwise(t)


def token_count(col: Column) -> Column:
    """Whitespace token count (long)."""
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: words / numbers / individual symbols,
    via one regexp pass (approximates a BPE tokenizer's token count much
    better than whitespace for punctuated text)."""
    return F.coalesce(F.regexp_count(col, F.lit(TOKEN_REGEX)), F.lit(0)).cast("long")


def char_count(col: Column) -> Column:
    return F.length(col).cast("long")


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0.0 for empty)."""
    n_punct = F.length(F.regexp_replace(col, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(col).cast("double")
    )


def stopword_count(col: Column, stopwords: Optional[List[str]] = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or DEFAULT_STOPWORDS)])
    lower_toks = F.transform(tokens(col), lambda x: F.lower(x))
    return F.size(F.filter(lower_toks, lambda x: F.array_contains(sw, x))).cast("long")


def stopword_ratio(col: Column, stopwords: Optional[List[str]] = None) -> Column:
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count(col, stopwords).cast("double") / n.cast("double")
    )


def mean_word_length(col: Column) -> Column:
    n = token_count(col)
    total = F.aggregate(
        tokens(col), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n.cast("double"))


def quality_score(col: Column, stopwords: Optional[List[str]] = None) -> Column:
    """Deterministic [0,1] quality heuristic (Gopher/C4-style signals):
    length band, stopword presence, low punctuation noise, sane word length.
    """
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(
        F.when(n == 0, F.lit(0.0)).otherwise(F.lit(0.5))
    )
    sw = stopword_ratio(col, stopwords)
    sw_ok = F.when(sw >= 0.05, F.lit(1.0)).otherwise(sw * 20.0)
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 2.0, F.lit(1.0))
    mwl = mean_word_length(col)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return (len_ok * 0.3 + sw_ok * 0.3 + punct_ok * 0.2 + mwl_ok * 0.2)


def quality_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stopwords: Optional[List[str]] = None,
) -> DataFrame:
    """(id, quality) with the token array STAGED through one projection —
    :func:`quality_score` as a single expression re-tokenizes the text for
    each signal (~6 regex splits per row); here every signal reads the
    computed ``_tk`` attribute. Identical values, one tokenize pass."""
    from . import spread

    df = spread(df)
    sw_arr = F.array(*[F.lit(w) for w in (stopwords or DEFAULT_STOPWORDS)])
    s1 = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_txt"),
        tokens(F.col(text_col)).alias("_tk"),
    )
    tk, txt = F.col("_tk"), F.col("_txt")
    n = F.size(tk).cast("long")
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(
        F.when(n == 0, F.lit(0.0)).otherwise(F.lit(0.5))
    )
    n_sw = F.size(
        F.filter(F.transform(tk, lambda x: F.lower(x)), lambda x: F.array_contains(sw_arr, x))
    ).cast("long")
    sw = F.when(n == 0, F.lit(0.0)).otherwise(n_sw.cast("double") / n.cast("double"))
    sw_ok = F.when(sw >= 0.05, F.lit(1.0)).otherwise(sw * 20.0)
    n_punct = F.length(F.regexp_replace(txt, r"[^!-/:-@\[-`{-~]", ""))
    pr = F.when(F.length(txt) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(txt).cast("double")
    )
    punct_ok = F.lit(1.0) - F.least(pr * 2.0, F.lit(1.0))
    total_len = F.aggregate(tk, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    mwl = F.when(n == 0, F.lit(0.0)).otherwise(
        total_len.cast("double") / n.cast("double")
    )
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return s1.select(
        "id", (len_ok * 0.3 + sw_ok * 0.3 + punct_ok * 0.2 + mwl_ok * 0.2).alias("quality")
    )


def lang_scores(col: Column) -> Dict[str, Column]:
    """Per-language stopword-hit counts (the n-gram-heuristic vote)."""
    return {
        lang: stopword_count(col, words) for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(col: Column) -> Column:
    """argmax language by stopword votes; deterministic ties (list order);
    'und' (undetermined) when no stopword hits at all.

    NOTE: as a single expression the chained argmax duplicates every
    language's score sub-expression (each re-tokenizes the text), and
    codegen's subexpression elimination does NOT collapse them — 40
    tokenize passes per row measured in the plan. Prefer
    :func:`lang_table` in hot paths (same staged-projection discipline
    as :func:`quality_table`)."""
    return _argmax_lang(lang_scores(col))


def _argmax_lang(scores: Dict[str, Column]) -> Column:
    """The language with the highest score; ties go to the earlier
    language in ``scores`` order, and 'und' when no score is positive.
    The one argmax :func:`lang_id` and :func:`lang_table` share, so
    their parity holds by construction."""
    langs = list(scores)
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return F.when(best_score <= 0, F.lit("und")).otherwise(best_lang)


def lang_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, lang_guess) with the lowered token array STAGED through one
    projection and the four vote counts staged through a second, so the
    argmax reads plain column attributes (round 17; the same treatment
    :func:`quality_table` applies to the quality signals). Values
    identical to :func:`lang_id` — 40 tokenize passes → 1 in the plan,
    measured 3.59 → 0.57 s median at sf0.1
    (plans/r17/lang_id_{before,after}.txt)."""
    from . import spread

    df = spread(df)
    s1 = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(text_col)), lambda x: F.lower(x)).alias("_lt"),
    )
    langs = list(LANG_STOPWORDS.keys())
    score_cols = []
    for lang in langs:
        sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        score_cols.append(
            F.size(F.filter(F.col("_lt"), lambda x: F.array_contains(sw, x)))
            .cast("long")
            .alias(f"_s_{lang}")
        )
    s2 = s1.select("id", *score_cols)
    out = _argmax_lang({lang: F.col(f"_s_{lang}") for lang in langs})
    return s2.select("id", out.alias("lang_guess"))


def fingerprint_md5(col: Column) -> Column:
    """Exact-content fingerprint (md5 hex — identical across engines)."""
    return F.md5(col)


def rolling_hashes(col: Column, k: int = 8) -> Column:
    """Array of hashes of the text's character k-grams (rolling-window
    fingerprint base). md5-derived so any engine reproduces them."""
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    idxs = F.sequence(F.lit(1), F.length(col) - (k - 1))
    hashes = F.transform(
        idxs,
        lambda i: F.conv(
            F.substring(F.md5(F.substring(col, i, F.lit(k))), 1, 8), 16, 10
        ).cast("long"),
    )
    return F.when(
        F.coalesce(F.length(col), F.lit(0)) < k, F.array().cast("array<long>")
    ).otherwise(hashes)


def winnowing_fingerprint(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing (Schleimer et al., SIGMOD'03): distinct minima of each
    w-window of k-gram hashes — a robust near-dup document sketch.

    NOTE: `col` must be a plain column attribute in hot paths; better, use
    :func:`winnowing_table`, which stages the rolling-hash array so the
    window-min lambda reads it as an attribute instead of re-hashing every
    k-gram per window (O(len·w) vs O(len²) md5 calls).
    """
    hashes = rolling_hashes(col, k)
    mins = F.transform(
        F.sequence(F.lit(1), F.size(hashes) - (w - 1)),
        lambda i: F.array_min(F.slice(hashes, i, w)),
    )
    return F.when(
        F.size(hashes) < w, F.array().cast("array<long>")
    ).otherwise(F.array_sort(F.array_distinct(mins)))


def winnowing_table(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """(id, fp array<long>) winnowing fingerprints via staged projections
    (see :func:`winnowing_fingerprint` for why staging matters). Docs
    shorter than k+w-1 chars get an empty fingerprint."""
    from . import spread

    s1 = spread(df).select(
        F.col(id_col).alias("id"), rolling_hashes(F.col(text_col), k).alias("_rh")
    )
    rh = F.col("_rh")
    mins = F.transform(
        F.sequence(F.lit(1), F.size(rh) - (w - 1)),
        lambda i: F.array_min(F.slice(rh, i, w)),
    )
    return s1.select(
        "id",
        F.when(F.size(rh) < w, F.array().cast("array<long>"))
        .otherwise(F.array_sort(F.array_distinct(mins)))
        .alias("fp"),
    )


def repetition_table(df: DataFrame, text_col: str, id_col: str, n: int = 2) -> DataFrame:
    """(id, n_tokens, distinct_tokens, dup_token_ratio, n_grams,
    distinct_grams, dup_gram_ratio) — within-document repetition signals
    (Gopher-style): heavily repetitive docs (boilerplate, generated spam)
    show high duplicate token / n-gram fractions.

    Pure Catalyst expressions over ONE tokenize pass (staged projection);
    narrow plan, no shuffle — at 100 TB this is a map-only scan.
    """
    from . import spread

    s1 = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    tk = F.col("_tk")
    starts = F.sequence(F.lit(1), F.size(tk) - (n - 1))
    grams = F.when(F.size(tk) < n, F.array().cast("array<string>")).otherwise(
        F.transform(starts, lambda i: F.array_join(F.slice(tk, i, n), " "))
    )
    s2 = s1.select("id", tk.alias("_tk"), grams.alias("_gr"))
    gr = F.col("_gr")
    n_tok = F.size(F.col("_tk")).cast("long")
    d_tok = F.size(F.array_distinct(F.col("_tk"))).cast("long")
    n_gr = F.size(gr).cast("long")
    d_gr = F.size(F.array_distinct(gr)).cast("long")
    return s2.select(
        "id",
        n_tok.alias("n_tokens"),
        d_tok.alias("distinct_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise((n_tok - d_tok).cast("double") / n_tok.cast("double"))
        .alias("dup_token_ratio"),
        n_gr.alias("n_grams"),
        d_gr.alias("distinct_grams"),
        F.when(n_gr == 0, F.lit(0.0))
        .otherwise((n_gr - d_gr).cast("double") / n_gr.cast("double"))
        .alias("dup_gram_ratio"),
    )


def top_terms_by_group(
    df: DataFrame, text_col: str, group_col: str, k: int = 10
) -> DataFrame:
    """Top-k tokens per group by frequency (ties break on token string) —
    the corpus-vocabulary inspection primitive.

    Scale shape: explode → two-level aggregation with map-side combine on
    (group, token); the top-k window gets WindowGroupLimit pushdown, so each
    shuffle partition keeps only k rows per group before the final sort.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("grp").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "token", "n", "rank")
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k terms per document by tf-idf: (doc, term, tf, df, rank).

    Uses the *raw* inverse-document-frequency variant ``score = tf * (N /
    df)``: within one document the corpus size N is constant, so the ranking
    reduces to ``tf / df`` — a single IEEE-correctly-rounded double division
    that is bit-identical in every engine (a log-idf would rank the same way
    for df < N but costs a libm call with 1-ulp cross-engine wiggle). Ties
    break on the term string, so ranks are fully deterministic.

    Scale shape: explode → map-side-combined (doc, term) counts; document
    frequency is a second aggregate **over the tf frame** (one row per
    (doc, term) — never re-reads the corpus); equi-join on term; per-doc
    top-k gets WindowGroupLimit pushdown so each shuffle partition keeps at
    most k rows per doc. Hot terms skew the term-join — AQE skew-split
    handles it, or pre-drop stopword-frequency terms (df > cap) the same way
    ngram_jaccard_capped does.
    """
    from pyspark.sql import Window

    from pyspark import StorageLevel

    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # persist: tf feeds both the document-frequency aggregate and the final
    # join — one tokenize pass instead of two
    tf = (
        tok.groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy(
        (F.col("tf").cast("double") / F.col("df").cast("double")).desc(),
        F.col("term").asc(),
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("doc").alias(id_col), "term", "tf", "df", "rank")
    )


def unigram_logprob_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document unigram-LM negative log-likelihood (perplexity proxy):
    (doc, n_tokens, nll_micro).

    The unigram model is the corpus itself: ``p(t) = n_t / T``. A document's
    score is ``-Σ log p(t_i)`` — unusually high per-token NLL means rare
    gibberish, unusually low means boilerplate; both are standard
    quality-filter signals.

    Float discipline: the per-token log-prob is frozen to integer micro-nats
    ``lp_t = round(ln(n_t / T) * 1e6)`` **once per vocabulary term**, then
    everything downstream (per-doc sum) is exact BIGINT arithmetic — no
    summation-order nondeterminism, cross-engine reproducible.

    Scale shape: vocabulary counts via map-side-combined aggregate; the
    scalar total T is a one-row broadcast; token→lp is an equi-join of the
    token stream against the (small) vocabulary table, then one
    map-side-combined per-doc sum. The corpus is shuffled once (on term)
    and once on doc id.
    """
    from pyspark import StorageLevel

    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # persist: the vocabulary-count frame feeds the total-tokens scalar and
    # the log-prob table; the corpus itself is tokenized exactly twice (LM
    # build + scoring join), which is the natural two-pass shape
    cnt = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = cnt.agg(F.sum("n").alias("t"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            F.log(F.col("n").cast("double") / F.col("t").cast("double"))
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("lp"),
    )
    return (
        tok.join(lp, "term")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("lp")).cast("long").alias("nll_micro"),
        )
        .select(F.col("doc").alias(id_col), "n_tokens", "nll_micro")
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: "List[str]",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval for a bag-of-terms query: (doc, score_micro,
    rank), top-k docs.

    Okapi BM25 with the standard ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``
    (always positive) and length normalization against the corpus mean.
    Float discipline: every step is an IEEE-correctly-rounded double op
    evaluated in the identical expression shape on both engines, and the
    per-(doc, term) partial score is frozen to integer micro-units before
    the per-doc sum — so results hash-match bit-for-bit cross-engine (the
    one ``ln`` has a ~1e-10 rounding-boundary exposure per vocab term;
    see unigram_logprob_table, same reasoning).

    Scale shape: exactly TWO passes over the corpus — (1) doc lengths (the
    full token stream is unavoidable for length normalization), (2) the
    query-term postings, where Catalyst pushes the ``isin`` below the
    aggregate into the scan (the inverted-index probe). Both aggregated
    frames persist (MEMORY_AND_DISK) because two consumers each would
    otherwise replay the tokenize lineage per branch — measured 4 explodes
    of the corpus without it, 2 with. Corpus scalars (N, total tokens) are
    a one-row broadcast. The global top-k is ``TakeOrderedAndProject``
    (per-partition top-k, merge of k·partitions rows — never a global
    sort); ranks are then a window over ≤ k rows, a single trivial task.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    dl = (
        tok.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    tf = (
        tok.filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    joined = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("total_tokens").cast("double") / nd
    idf = F.log(F.lit(1.0) + (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
    denom = tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dld / avgdl))
    part = idf * (tfd * F.lit(k1 + 1.0)) / denom
    scored = joined.select(
        "doc", F.round(part * F.lit(1_000_000)).cast("long").alias("s_micro")
    )
    per_doc = scored.groupBy("doc").agg(F.sum("s_micro").alias("score_micro"))
    topk = per_doc.orderBy(F.col("score_micro").desc(), F.col("doc").asc()).limit(k)
    # rank over the already-limited k rows: a one-task window over ≤ k rows
    # (the heavy lifting happened in TakeOrderedAndProject above)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc").asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        F.col("doc").alias(id_col), "score_micro", "rank"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap:
    (id, chunk_idx, chunk_text, n_tokens) — the training-data chunking
    primitive (context-window segmentation with cross-chunk overlap so
    boundary information isn't lost).

    Stride = max_tokens - overlap; the final chunk may be shorter (the tail
    is emitted whenever it contains tokens not fully covered before). Pure
    Catalyst: tokenize once (staged), build the start-index array with
    ``sequence``, slice + rejoin per chunk, ``posexplode`` — narrow,
    map-only, no Python.
    """
    from . import spread

    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    s1 = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    tk = F.col("_tk")
    n = F.size(tk)
    # start indices 1, 1+stride, ... — last window begins at or before
    # n - max_tokens + stride (any later start is fully covered already)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(max_tokens)).cast("double") / stride).cast("int") + 1
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts, lambda i: F.array_join(F.slice(tk, i * stride + 1, max_tokens), " ")
    )
    s2 = s1.filter(n > 0).select("id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    return s2.select(
        F.col("id").alias(id_col),
        "chunk_idx",
        "chunk_text",
        F.size(F.split(F.col("chunk_text"), r"\s+")).cast("long").alias("n_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    budget: int = 256,
    seed: int = 42,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs: (id, n_tokens, pack_key,
    pack_id) — the sequence-packing step that batches short documents into
    full context windows.

    Deterministic contiguous packing: docs order by a content-independent
    md5 rank inside coarse hash buckets; ``pack_id`` is the running token
    total divided by the budget. Oversized docs simply occupy several packs'
    worth of budget (chunk first via :func:`chunk_documents` if hard caps
    matter). The running sum is a window INSIDE each hash bucket — packing
    is bucket-local, so the window parallelizes across buckets and no
    global single-task sort exists.
    """
    from pyspark.sql import Window

    from .sampling import hash_bucket

    base = df.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        (hash_bucket(F.col(id_col), seed=seed, buckets=64)).alias("pack_key"),
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#rank"))).alias("_r"),
    )
    w = (
        Window.partitionBy("pack_key")
        .orderBy("_r", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return base.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "pack_key",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("double") / budget
        ).cast("long").alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus line dedup (C4/CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------
def dedup_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Remove lines that appear (trimmed-identical) in >= ``min_docs``
    DISTINCT documents — the C4-style boilerplate filter (nav bars, cookie
    banners, license footers repeat across pages; prose doesn't).

    Returns (id, text, n_lines, n_removed) with surviving lines rejoined in
    their original order; documents whose every line is boilerplate survive
    with empty text (so downstream length filters decide their fate
    explicitly).

    Scale shape: ``posexplode`` on newline splits, one ``groupBy(line)``
    with map-side-combined ``count_distinct(doc)`` to find the hot set, and
    a LEFT ANTI equi-join back on the line key — the hot set is corpus-wide
    and therefore NOT assumed broadcastable; the anti join shuffles by line
    key like any content join (AQE handles the skewed empty/short-line keys,
    and ``min_line_chars`` drops sub-threshold lines from the hot-set
    consideration entirely — a one-char line carries no boilerplate signal
    but would be the hottest join key in the corpus). Reassembly is
    ``sort_array(collect_list(struct(pos, line)))`` per doc — grouping key
    is the doc id, so no global sort and no window.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    key = F.trim(F.col("line"))
    hot = (
        lines.filter(F.length(key) >= min_line_chars)
        .groupBy(key.alias("k"))
        .agg(F.count_distinct(F.col("id")).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("k")
    )
    kept = lines.join(hot, on=key == F.col("k"), how="left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        (F.size(F.split(F.col(text_col), "\n"))).alias("n_lines"),
    )
    return (
        base.join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("text"),
            F.col("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction (map-only scrub pass)
# ---------------------------------------------------------------------------
#: deliberately RE2-safe patterns (no backreferences/lookaround) so the same
#: strings run identically under Java regex (Spark) and RE2 (DuckDB, Go
#: scrubbers) — dialect-portable by construction.
#: dict order IS scrub order: specific patterns (ssn, ipv4) before the
#: greedy phone class, which would otherwise half-eat them
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def redact_pii(
    df: DataFrame,
    text_col: str,
    id_col: str,
    patterns: Optional[Dict[str, str]] = None,
    token: str = "<PII:{kind}>",
) -> DataFrame:
    """Replace PII spans with typed placeholder tokens and count hits per
    kind — the standard pretraining scrub pass.

    Returns (id, text, n_<kind>...). Pure chained ``regexp_replace`` +
    ``regexp_count`` column expressions: map-only, whole-stage codegen, no
    shuffle, no Python. Patterns apply in dict order (email before phone
    matters: an email's digits must not be half-eaten as a phone number);
    counts are measured BEFORE any replacement, on the original text.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    out_cols = [F.col(id_col)]
    scrubbed = F.col(text_col)
    for kind, pat in pats.items():
        out_cols.append(
            F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)), F.lit(0))
            .cast("long").alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token.format(kind=kind))
    return df.select(out_cols[0], scrubbed.alias("text"), *out_cols[1:])


#: sentence = shortest run ending in .!? — no lookaround, so the same
#: pattern runs identically under Java regex and RE2 (DuckDB/Go)
SENTENCE_REGEX = r"[^.!?]+[.!?]"


def dedup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style span dedup: any ``span``-sentence window whose (trimmed)
    text occurs in >= ``min_docs`` DISTINCT documents marks all its
    sentences for removal, in every document containing it; survivors
    rejoin in order. (The C4 paper removes all-but-one occurrence of each
    duplicated three-sentence span; the symmetric drop-everywhere variant
    here is deterministic under any execution order, which an
    occurrence-keeping variant is not without a global tiebreak pass.)

    Returns (id, text, n_sentences, n_removed_sentences).

    Scale shape: sentence extraction and span construction are DOC-LOCAL
    array expressions (``regexp_extract_all`` + ``transform``/``slice`` —
    no join builds the windows); corpus-wide work is ONE ``groupBy(span)``
    with ``count_distinct(doc)`` and one LEFT ANTI equi-join of sentence
    positions against the expanded hot-span positions. Docs with fewer than
    ``span`` sentences pass through untouched.
    """
    sents_arr = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(SENTENCE_REGEX), 0),
        lambda s: F.trim(s),
    )
    base = df.select(F.col(id_col).alias("id"), sents_arr.alias("s"))
    sents = base.select(
        "id", F.posexplode(F.col("s")).alias("pos", "sent")
    )
    # span starts: 0 .. size-span (doc-local array, no self-join)
    spans = base.filter(F.size("s") >= span).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("s") - (span - 1)),
                lambda i: F.array_join(F.slice(F.col("s"), i, span), " "),
            )
        ).alias("spos", "stext"),
    )
    hot = (
        spans.groupBy("stext")
        .agg(F.count_distinct(F.col("id")).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("stext")
    )
    # expand each hot span occurrence to its sentence positions
    removed = (
        spans.join(hot, "stext")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("spos"), F.col("spos") + (span - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = sents.join(removed, on=["id", "pos"], how="left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sent"))),
                lambda x: x["sent"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    meta = base.select("id", F.size("s").alias("n_sentences"))
    return (
        meta.join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("text"),
            F.col("n_sentences"),
            (
                F.col("n_sentences") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_removed_sentences"),
        )
    )


def vocab_coverage(
    df: DataFrame, text_col: str, id_col: str, k: int = 100
) -> DataFrame:
    """Top-k vocabulary with cumulative corpus coverage: ``(term, n, rank,
    cov_micro)`` — the tokenizer-prep question "how few types cover how
    much of the token stream?" (Zipf audit / vocab-size selection).

    ``cov_micro = round(cum_n * 1e6 / total_tokens)`` with ``cum_n`` the
    running count down the (n DESC, term ASC) order — one correctly-rounded
    double division per emitted row over exact BIGINT inputs, so values are
    bit-identical across engines.

    Scale shape: one map-side-combined term count (the only corpus-wide
    shuffle, same skew profile as any word count), the top-k via
    ``orderBy().limit(k)`` → TakeOrderedAndProject (bounded per-partition
    top-k + k-row merge — the vocabulary itself is never globally sorted),
    total-token count as a one-row broadcast, and the running sum's window
    runs on the k survivors only.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("term"))
    # persist: the count frame feeds both the total-tokens scalar and the
    # top-k — one corpus tokenize pass, not two (unigram_logprob discipline)
    cnt = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = cnt.agg(F.sum("n").alias("_total"))
    order = [F.col("n").desc(), F.col("term").asc()]
    top = cnt.orderBy(*order).limit(k)
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "term",
            "n",
            F.row_number().over(Window.orderBy(*order)).alias("rank"),
            F.round(
                F.sum("n").over(w).cast("double")
                * F.lit(1_000_000)
                / F.col("_total").cast("double")
            )
            .cast("long")
            .alias("cov_micro"),
        )
    )
