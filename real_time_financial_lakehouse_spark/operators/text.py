"""Text analysis operators for training-data pipelines (engine extension).

Language-ID (stopword heuristic), quality scoring (length / punctuation /
stopword ratios), token counting, and content fingerprinting -- the
standard pre-training corpus filters, all as built-in column expressions
(regex + array functions, no UDF) so they run inside whole-stage codegen
and cost one scan.

Regex patterns are restricted to the dialect intersection of Java regex
(Spark) and RE2 (DuckDB): character classes and quantifiers only, no
backrefs/lookarounds -- both engines then match identically.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_PRIME, md5_long, normalize_text
from ..functions.numeric import qround
from .dedup import _spread

# BPE-ish pre-tokenization: letter runs / digit runs / punctuation runs --
# the GPT-2 pre-tokenizer shape minus lookaheads, restricted to the
# Java-regex/RE2 intersection so Spark and DuckDB split identically.
# Space (not \s) as the separator class: the corpus contains no tabs or
# newlines, and a literal space dodges the engines' different backslash
# escaping in SQL string literals.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

# Polynomial rolling-hash parameters (shared with the SQL twins): base fits
# so that acc(<2^31) * base(<2^20) + tokhash(<2^28) stays well inside int64.
ROLLING_BASE = 1_000_003
ROLLING_MOD = MINHASH_PRIME

# tiny in-vocabulary stopword sets: enough to exercise the heuristic; a
# production build swaps in real per-language lists (the operator shape
# does not change)
STOPWORDS = {
    "en": ["the", "a", "of"],
    "de": ["der", "die", "das"],
    "fr": ["le", "la", "les"],
}

def _tokens(col: str = "text") -> F.Column:
    return F.split(F.trim(F.col(col)), r"\s+")

def _stopword_count(lang: str) -> F.Column:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(f"size(filter(split(trim(text), '\\\\s+'), t -> t IN ({words})))")

def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, mean token
    length -- the inputs to any tokens-per-doc budget."""
    toks = _tokens()
    avg_len = F.expr(
        "aggregate(split(trim(text), '\\\\s+'), 0D, (acc, t) -> acc + length(t))"
    ) / F.size(toks)
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.floor(avg_len * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("avg_token_len"),
    ).orderBy("doc_id")

def text_quality(documents: DataFrame) -> DataFrame:
    """Quality scoring: char length, punctuation ratio, stopword ratio,
    and a composite keep/drop flag (the C4-style heuristic gate)."""
    n_chars = F.length("text")
    # punctuation = what remains after stripping alphanumerics and spaces
    punct = F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", ""))
    n_tokens = F.size(_tokens())
    # ANSI-safe: empty/whitespace-only docs have 0 chars or 0 tokens --
    # the ratio is NULL there, never a DIVIDE_BY_ZERO (Spark 4 default)
    stop_ratio = F.when(n_tokens > 0, _stopword_count("en") / n_tokens)
    punct_ratio = F.when(n_chars > 0, punct / n_chars)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        q6(punct_ratio).alias("punct_ratio"),
        q6(stop_ratio).alias("stopword_ratio"),
        (
            (n_chars >= 50) & (n_tokens >= 10)
            & F.coalesce(punct_ratio < F.lit(0.3), F.lit(False))
        ).alias("quality_pass"),
    ).orderBy("doc_id")

def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-vote language ID with deterministic tiebreak (score desc,
    language code asc); 'und' when nothing matches.  The fixture carries a
    ground-truth ``lang`` column, so the query also reports agreement.

    Staged projections, not one nested expression: tokenize ONCE, score
    each language over the token column, then argmax over the score
    columns.  Each stage's outputs are referenced multiple times
    downstream, which keeps Catalyst's CollapseProject from re-inlining
    (and thus re-computing) the tokenization per language and the scores
    per comparison -- same trick as the MinHash hash-once signature
    (measured 2x at sf0.1)."""
    toks = documents.select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )

    def score(lang: str) -> F.Column:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return F.expr(f"size(filter(toks, t -> t IN ({words})))")

    scored = toks.select(
        "doc_id", "lang", *[score(lang).alias(f"score_{lang}") for lang in sorted(STOPWORDS)]
    )
    best = None
    for lang in sorted(STOPWORDS):  # asc code order = tiebreak
        s = F.col(f"score_{lang}")
        cand = F.struct(s.alias("score"), F.lit(lang).alias("code"))
        best = cand if best is None else F.when(s > best["score"], cand).otherwise(best)
    predicted = F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("agrees"),
    ).orderBy("doc_id")

def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer (letter/digit/punct
    runs) next to the whitespace count -- the per-doc token-budget numbers
    a training pipeline bills by.  Pure regex + array expressions."""
    toks = F.expr(f"regexp_extract_all(lower(text), '{BPE_PATTERN}', 0)")
    ws = _tokens()
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
        F.size(ws).alias("n_ws_tokens"),
        (
            F.floor(F.size(toks).cast("double") / F.size(ws) * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("bpe_per_word"),
    ).orderBy("doc_id")

def repetition_stats(documents: DataFrame) -> DataFrame:
    """Word-level repetition metrics per document -- the Gopher-rules
    family (Rae et al. 2021 §A1.1: duplicate-n-gram and top-n-gram
    fractions used to drop machine-generated / boilerplate text):

    * ``dup_word_frac``   -- 1 - distinct/total words
    * ``top_word_frac``   -- occurrences of the most frequent word / total
    * ``dup_bigram_frac`` -- 1 - distinct/total word bigrams
    * ``top_bigram_frac`` -- occurrences of the most frequent bigram / total

    Scale: every metric is a row-local array expression (tokenize once,
    bigrams via zip_with over two slices, mode via a transform-over-
    distinct lambda) -- zero shuffle, whole-stage codegen, O(distinct x
    n_words) per row.  ``_spread`` only rescues the single-file fixture
    scan from one-partition execution; on a real multi-file table it is
    an AQE-absorbed no-op.  Bigram metrics are NULL for one-word docs on
    both engines (guarded CASE)."""
    toks = _spread(documents.select("doc_id", "text")).select(
        "doc_id", _tokens().alias("w")
    )
    staged = toks.select(
        "doc_id",
        F.size("w").alias("n"),
        F.col("w"),
        F.expr(
            "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), "
            "(a, b) -> concat(a, ' ', b))"
        ).alias("bg"),
    )
    top_of = lambda arr: F.expr(  # noqa: E731
        f"array_max(transform(array_distinct({arr}), "
        f"d -> size(filter({arr}, x -> x = d))))"
    )
    n = F.col("n").cast("double")
    nbg = F.size("bg").cast("double")
    return staged.select(
        "doc_id",
        F.col("n").alias("n_words"),
        qround(F.lit(1.0) - F.size(F.array_distinct("w")) / n).alias("dup_word_frac"),
        qround(top_of("w") / n).alias("top_word_frac"),
        F.size("bg").alias("n_bigrams"),
        F.when(F.size("bg") > 0, qround(F.lit(1.0) - F.size(F.array_distinct("bg")) / nbg)).alias(
            "dup_bigram_frac"
        ),
        F.when(F.size("bg") > 0, qround(top_of("bg") / nbg)).alias("top_bigram_frac"),
    ).orderBy("doc_id")

# quality_gate thresholds, shared verbatim with the SQL twin; tuned on the
# fixture so every rule fires on a real slice of the corpus (p90-ish cuts)
GATE_MIN_CHARS = 100
GATE_MIN_WORDS = 15
GATE_MAX_DUP_WORD = 0.6
GATE_MAX_TOP_WORD = 0.125

def quality_gate(documents: DataFrame) -> DataFrame:
    """Composite C4/Gopher-style keep-or-drop gate with per-rule reasons:
    a doc is kept only if it clears length (chars AND words), duplicate-
    word, and top-word-fraction cuts.  ``reasons`` is a comma-joined,
    fixed-order list of the rules that failed -- the audit column a
    filtering pipeline logs so corpus ablations can attribute removals.

    Scale: row-local array expressions only (same tokenize-once shape as
    repetition_stats), zero shuffle; the gate composes with any upstream
    scan filter and survives predicate pushdown untouched."""
    toks = _spread(documents.select("doc_id", "n_chars", "text")).select(
        "doc_id", "n_chars", _tokens().alias("w")
    )
    staged = toks.select(
        "doc_id",
        "n_chars",
        F.size("w").alias("n_words"),
        (F.size(F.array_distinct("w")) / F.size("w").cast("double")).alias("distinct_frac"),
        (
            F.expr("array_max(transform(array_distinct(w), d -> size(filter(w, x -> x = d))))")
            / F.size("w").cast("double")
        ).alias("top_frac"),
    )
    fail_chars = F.col("n_chars") < GATE_MIN_CHARS
    fail_words = F.col("n_words") < GATE_MIN_WORDS
    fail_dup = (F.lit(1.0) - F.col("distinct_frac")) > GATE_MAX_DUP_WORD
    fail_top = F.col("top_frac") > GATE_MAX_TOP_WORD
    return staged.select(
        "doc_id",
        "n_chars",
        "n_words",
        (~fail_chars & ~fail_words & ~fail_dup & ~fail_top).alias("keep"),
        F.concat_ws(
            ",",
            F.when(fail_chars, F.lit("min_chars")),
            F.when(fail_words, F.lit("min_words")),
            F.when(fail_dup, F.lit("dup_words")),
            F.when(fail_top, F.lit("top_word")),
        ).alias("reasons"),
    ).orderBy("doc_id")

def _token_hashes_expr() -> str:
    """Spark SQL: whitespace tokens -> 28-bit md5 ints (engine-stable)."""
    return (
        "transform(split(trim(text), '\\\\s+'), "
        "t -> cast(conv(substring(md5(t),1,7),16,10) as bigint))"
    )

def winnow_fingerprints(documents: DataFrame, window: int = 4) -> DataFrame:
    """Rolling-hash document fingerprinting: a polynomial rolling hash over
    the whole token stream, plus a winnowing-style fingerprint -- the min
    over all ``window``-token rolling hashes (Schleimer et al.'s winnowing,
    reduced to one selected hash per doc).  Robust to doc-level reordering
    boundaries where md5-of-all-text is not.  All array expressions; the
    token stream is hashed once into an int array."""
    hashed = _spread(documents).select(
        "doc_id", F.expr(_token_hashes_expr()).alias("th")
    )
    # full-document rolling hash: fold acc -> (acc * B + h) mod M
    rolling = F.expr(
        f"aggregate(th, 0L, (acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD})"
    )
    # hash of the window starting at 0-based i: Horner over th[i..i+w-1],
    # reduced mod M at each step so intermediates stay in int64
    inner = "0L"
    for j in range(window):
        inner = f"(({inner} * {ROLLING_BASE} + th[i + {j}]) % {ROLLING_MOD})"
    # The window-hash array feeds ONLY the min; its length is pure
    # arithmetic (size(th) - window + 1).  Materializing the array twice
    # (array_min(expr) + size(expr) both inlining the transform) doubled
    # the per-doc work -- the r4 bench regression on this query.
    win_min = (
        f"CASE WHEN size(th) >= {window} "
        f"THEN array_min(transform(sequence(0, size(th) - {window}), i -> {inner})) "
        f"END"
    )
    n_windows = (
        f"CASE WHEN size(th) >= {window} THEN size(th) - {window} + 1 ELSE 0 END"
    )
    return hashed.select(
        "doc_id",
        rolling.alias("rolling_hash"),
        F.expr(win_min).alias("winnow_min"),
        F.expr(n_windows).alias("n_windows"),
    ).orderBy("doc_id")

def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Content fingerprinting: 60-bit md5 of normalized text plus the md5
    hex digest -- join keys for cross-corpus dedup."""
    norm = normalize_text(F.col("text"))
    return documents.select(
        "doc_id",
        F.md5(norm).alias("digest"),
        md5_long(norm).alias("fingerprint"),
    ).orderBy("doc_id")

def top_terms(documents: DataFrame, topn: int = 20) -> DataFrame:
    """Corpus-level term frequencies via explode(split()): the
    tokenize -> UNNEST -> count shape every text pipeline starts from.

    Scale: explode multiplies rows ~|tokens/doc| x, so the projection
    keeps ONLY the term column before exploding (no doc payload is
    duplicated); partial aggregation collapses each task's term counts
    before the shuffle, so the exchange carries |vocab| rows per task,
    not |tokens|.  Top-N is TakeOrderedAndProject, never a global sort.
    """
    terms = (
        documents.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"))
        .filter(F.length("term") >= 3)
    )
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("term"))
        .limit(topn)
    )

def vocab_coverage(documents: DataFrame, topn: int = 100) -> DataFrame:
    """Cumulative vocabulary coverage curve: for the ``topn`` most
    frequent terms, the fraction of ALL corpus term occurrences covered
    by ranks 1..r -- the curve that sizes a vocabulary (where it flattens
    is where vocab growth stops paying).

    Scale: term counting is the partial-aggregated explode of
    ``top_terms``; the corpus total is a 1-row aggregate broadcast via
    crossJoin; the running sum's unpartitioned window runs AFTER the
    top-N cut, so the single-task window sees ``topn`` rows, never the
    vocabulary."""
    terms = (
        documents.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"))
        .filter(F.length("term") >= 3)
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").alias("total_occurrences"))
    topk = counts.orderBy(F.col("n_occurrences").desc(), F.col("term")).limit(topn)
    w = (
        Window.orderBy(F.col("n_occurrences").desc(), F.col("term"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        topk.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("n_occurrences").desc(), F.col("term")))
            .alias("rank"),
            "term",
            "n_occurrences",
            qround(
                F.sum("n_occurrences").over(w).cast("double")
                / F.col("total_occurrences")
            ).alias("cum_coverage"),
        )
        .orderBy("rank")
    )

def token_length_histogram(documents: DataFrame, bucket_width: int = 10) -> DataFrame:
    """Document-length histogram in whitespace tokens (width-``bucket_width``
    buckets) with the cumulative document fraction -- the length profile
    that picks truncation and packing budgets.

    Scale: one partial-aggregable groupBy on the bucket; the cumulative
    window runs at bucket (not doc) cardinality."""
    n = F.size(_tokens())
    buckets = (
        documents.select((F.floor(n / bucket_width) * bucket_width).alias("bucket_start"))
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy("bucket_start").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.orderBy("bucket_start").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return buckets.select(
        "bucket_start",
        "n_docs",
        qround(
            F.sum("n_docs").over(w).cast("double") / F.sum("n_docs").over(total)
        ).alias("cum_doc_frac"),
    ).orderBy("bucket_start")

def word_entropy(documents: DataFrame) -> DataFrame:
    """Per-document token Shannon entropy and type-token ratio -- the
    information-density screens a corpus filter runs alongside the
    length/punctuation gates (low entropy = boilerplate / keyword spam,
    TTR near 0 = mass repetition).

    Entropy uses the count identity ``H = ln(N) - sum(c*ln c)/N`` so one
    grouped pass over per-term counts suffices (no second join against
    doc totals).

    Scale: explode projects ONLY (doc_id, term) -- no payload
    duplication; both groupBys partial-aggregate map-side, and the final
    aggregation is per-doc (uniform key domain, no hot key).  All math
    is JVM codegen; quantization at the output boundary only."""
    terms = (
        _spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 1)
    )
    counts = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_terms"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    )
    ent = F.log(F.col("n_terms")) - F.col("clogc") / F.col("n_terms")
    return per_doc.select(
        "doc_id",
        "n_terms",
        "n_types",
        qround(ent, 6).alias("entropy"),
        qround(F.col("n_types") / F.col("n_terms"), 6).alias("type_token_ratio"),
    ).orderBy("doc_id")

def tf_idf_terms(documents: DataFrame, topn: int = 3) -> DataFrame:
    """Per-document top-``topn`` TF-IDF terms -- the keyword-extraction
    pass a corpus profiler runs for topic auditing and duplicate-source
    triage.  ``tf = c / doc_len``, ``idf = ln(N / df)``, deterministic
    tie-break (score desc, term asc).

    Scale: term counts partial-aggregate before their shuffle; doc
    length reuses the counts frame via a doc-partitioned window (no
    second scan); the document-frequency side collapses to |vocab| rows
    (broadcastable for bounded vocabularies, AQE-planned otherwise); the
    corpus size N is a 1-row broadcast.  The final top-N window sees
    only a doc's own vocabulary."""
    terms = (
        _spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 3)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    tf = tf.withColumn("doc_len", F.sum("c").over(Window.partitionBy("doc_id")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            qround(
                (F.col("c") / F.col("doc_len"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ).alias("tf_idf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf_idf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topn)
        .select("doc_id", "rank", "term", "tf_idf")
        .orderBy("doc_id", "rank")
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Corpus-unigram language-model score per document: the mean log
    probability of the doc's tokens under the corpus's own unigram
    distribution -- the cheap stand-in for the KenLM-perplexity quality
    signal CCNet-style pipelines filter on (low scores = rare-token
    gibberish, high scores = common-word boilerplate; both tails get
    screened).

    Scale: one explode projecting ONLY (doc_id, term); the vocabulary
    aggregate partial-aggregates map-side; the terms-to-vocab join is an
    equi-join on the term (broadcast while the vocab fits, sort-merge
    beyond -- Zipf means the vocab is tiny relative to token volume).
    The corpus total is a 1-row frame crossed in via broadcast.  All
    math is JVM codegen (``avg(ln cf) - ln N`` folds the per-token
    probability product into one grouped pass)."""
    from pyspark.sql.functions import broadcast

    terms = (
        _spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 1)
    )
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    total = vocab.agg(F.sum("cf").cast("double").alias("n_total"))
    per_doc = (
        terms.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("cf"))).alias("avg_log_cf"),
        )
    )
    return (
        per_doc.crossJoin(broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            qround(F.col("avg_log_cf") - F.log(F.col("n_total")), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def heavy_hitters_cms(
    documents: DataFrame, topn: int = 20, depth: int = 4, width: int = 512
) -> DataFrame:
    """Heavy hitters through a count-min sketch: hash every term into
    ``depth`` independent md5 rows of ``width`` buckets, sum occurrence
    counts per bucket, and estimate each candidate term's frequency as
    the MIN of its ``depth`` bucket totals.  The classic CMS guarantees
    hold: the estimate never undercounts, and overcounts by more than
    (e/width) * N with probability < exp(-depth).  Emitted next to the
    exact counts so the containment (est >= exact) is oracle-checked,
    not just asserted.

    Scale: the sketch is depth x width integers -- FIXED memory no
    matter the corpus (here 4 x 512), and bucket totals are mergeable by
    addition, which is why CMS is the streaming/distributed answer to
    "top terms over 100 TB": each task folds its split into a local
    sketch, the reduce merges them cell-wise.  This batch formulation
    builds the sketch FROM the partial-aggregated term counts (identical
    cell values, one explode less); the exact-count column exists for
    validation -- a production pipeline keeps only the sketch plus a
    small candidate set.  Plan: one term-count shuffle, then the sketch
    (2 K rows) broadcasts back onto the candidates -- the corpus is
    read once."""
    from ..functions.hashing import md5_long

    cnts = (
        documents.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term")
        )
        .filter(F.length("term") >= 3)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    pairs = cnts.select(
        "term",
        "exact_count",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).withColumn(
        "bucket",
        md5_long(
            F.concat_ws(":", F.col("j").cast("string"), F.col("term")), hexdigits=7
        )
        % width,
    )
    sketch = pairs.groupBy("j", "bucket").agg(
        F.sum("exact_count").alias("cell_total")
    )
    return (
        pairs.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("term")
        .agg(
            F.min("cell_total").alias("est_count"),
            F.first("exact_count").alias("exact_count"),
        )
        .select(
            "term",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), F.col("term"))
        .limit(topn)
    )


def bigram_logprob(documents: DataFrame, k_smooth: float = 0.5) -> DataFrame:
    """Corpus-bigram language-model score per document with add-k
    smoothing: mean log P(w2 | w1) where P = (c(w1,w2) + k) /
    (c(w1) + k*V).  One step up the n-gram ladder from
    ``unigram_logprob`` -- the bigram conditional catches
    scrambled-word-order gibberish that unigram frequency cannot (every
    token common, every transition rare), which is the signal KenLM-style
    perplexity filters actually use.

    Scale: ordered token arrays are a projection; bigram expansion is a
    row-local transform + explode (fan-out |tokens|, same as any
    shingling); the two count tables partial-aggregate map-side and are
    Zipf-small relative to token volume, so both probability joins are
    broadcast-until-large equi-joins.  The vocabulary size is a 1-row
    broadcast.  Documents with fewer than 2 tokens surface with
    n_bigrams = 0 and a NULL score -- visible, not dropped."""
    toks = F.expr(
        "filter(split(lower(text), '[^a-z]+'), x -> length(x) >= 1)"
    )
    base = _spread(documents.select("doc_id", "text")).select(
        "doc_id", toks.alias("w")
    )
    pairs = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w)-2),"
                " i -> struct(w[i] AS w1, w[i+1] AS w2)) ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    cw = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c_context"))
    vocab = (
        base.select(F.explode("w").alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v_size"))
    )
    k = F.lit(float(k_smooth))
    scored = (
        pairs.join(cb, ["w1", "w2"])
        .join(cw, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c_bigram") + k) / (F.col("c_context") + k * F.col("v_size"))
            ).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("lp").alias("avg_lp"),
        )
    )
    from ..functions.numeric import qround

    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            qround(F.col("avg_lp"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def quality_deciles(documents: DataFrame) -> DataFrame:
    """Curriculum binning: rank every document by a deterministic quality
    score (here token count with distinct-token tiebreak -- swap in any
    composite), cut the corpus into NTILE(10) deciles, and report each
    decile's size and score range.  The binning a curriculum-learning or
    quality-stratified-mixing recipe samples from ("upweight the top two
    deciles, drop the bottom one").

    Scale: the score is a row-local projection; NTILE is one global sort
    -- the honest cost of exact decile boundaries.  At 100 TB swap the
    exact NTILE for approx_percentile cutoffs (one aggregation, no
    sort) and a join against the 9 boundary values; the report shape is
    unchanged -- the same exact-vs-sketch trade as value_percentiles and
    winsorize_values document."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    scored = documents.select(
        "doc_id",
        F.size(toks).alias("score"),
        F.size(F.array_distinct(toks)).alias("tiebreak"),
    )
    w = Window.orderBy("score", "tiebreak", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("decile")
    )


def quality_deciles_approx(documents: DataFrame) -> DataFrame:
    """The documented 100 TB swap for ``quality_deciles``, now a checked
    query (the volatility_cones_approx certificate template): decile
    CUTOFFS from ``percentile_approx`` (GK mergeable sketch, accuracy
    10000 -- one aggregation, no global sort) instead of the exact
    NTILE's corpus-wide sort.  Oracle-checkable audit form: the emitted
    cutoffs are the EXACT ones (recomputable by DuckDB ``quantile_cont``)
    quantized at 6 dp, documents are bucketed by comparing their score
    against the 9 broadcast cutoffs (1 + #cutoffs_below, deterministic on
    quantized values), and the sketch folds into an
    ``approx_within_band`` certificate -- every approx cutoff must land
    between the exact quantiles at p +/- 0.01, a real rank-error
    assertion with ~100x headroom over the sketch's guarantee.

    Scale: one partial-aggregable percentile pass + one broadcast of 9
    doubles against the scored scan; nothing sorts the corpus."""
    from ..functions.numeric import qround  # noqa: F401 (doc parity)

    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    scored = documents.select(F.size(toks).alias("score"))
    bands = ", ".join(
        f"{p / 100 - 0.01}D, {p / 100}D, {p / 100 + 0.01}D"
        for p in range(10, 100, 10)
    )
    cuts = scored.agg(
        F.expr(f"percentile(score, array({bands}))").alias("pe"),
        F.percentile_approx(
            "score", [p / 100 for p in range(10, 100, 10)], 10000
        ).alias("ap"),
    )
    sel = cuts.select(
        F.expr(
            "transform(sequence(0, 8), i -> cast("
            "floor(element_at(pe, i * 3 + 2) * 1000000.0 + 0.5) / 1000000.0"
            " as double))"
        ).alias("cuts"),
        F.expr(
            "forall(sequence(0, 8), i ->"
            " cast(element_at(ap, i + 1) as double) >= element_at(pe, i * 3 + 1)"
            " AND cast(element_at(ap, i + 1) as double)"
            " <= element_at(pe, i * 3 + 3))"
        ).alias("wb"),
    )
    assigned = scored.crossJoin(F.broadcast(sel)).select(
        "score",
        (
            F.lit(1)
            + F.expr(
                "aggregate(cuts, 0, (acc, c) ->"
                " acc + (CASE WHEN score > c THEN 1 ELSE 0 END))"
            )
        ).alias("decile"),
        F.col("wb"),
    )
    return (
        assigned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.expr("bool_and(wb)").alias("approx_within_band"),
        )
        .orderBy("decile")
    )


BM25_QUERY_TERMS = ("hash", "join", "scan")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    documents: DataFrame,
    query_terms: tuple = BM25_QUERY_TERMS,
    topn: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 lexical retrieval: rank documents against a bag-of-words
    query with the Robertson/Sparck-Jones scoring every search engine
    ships -- idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf saturated by k1
    and length-normalized by b against the corpus mean length.  The
    lexical complement to the vector path (cosine/IVF/LSH): together
    they are the hybrid-retrieval pair a RAG stack actually deploys.

    Scale: ONE lazy corpus tokenize computes the per-doc length AND the
    per-query-term counts in the same partial-aggregable groupBy(doc_id)
    (conditional counts -- the query-term list is a compile-time constant,
    so tf per term is a column, not a join).  Two frames read that
    doc-cardinality aggregate: a one-row marginal (N, avgdl and df per
    term as count(tf > 0)) broadcast-crossed back onto it, where each
    doc's score is a fixed-order sum of per-term columns.  Both read
    every per-doc column, so their exchange subtrees are canonically
    equal and AQE reuses the one per-doc shuffle: nothing re-tokenizes,
    nothing corpus-sized is joined, and no job runs at construction.
    Top-N is TakeOrderedAndProject, never a global sort.  ln() on both
    engines, quantized at the boundary.  Repeated query terms count once;
    an empty query returns no rows."""
    qlist = list(dict.fromkeys(query_terms))
    if not qlist:
        return documents.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_matched_terms"),
            F.lit(None).cast("double").alias("bm25"),
        ).limit(0)
    terms = (
        _spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 3)
    )
    tfs = [F.col(f"__tf_{i}") for i in range(len(qlist))]
    dfs = [F.col(f"__df_{i}") for i in range(len(qlist))]
    per_doc = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, 1)).alias(f"__tf_{i}")
            for i, t in enumerate(qlist)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.count(F.when(tf > 0, 1)).cast("double").alias(f"__df_{i}") for i, tf in enumerate(tfs)],
    )
    n_docs = F.col("n_docs")
    norm = k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    term_scores = [
        F.when(
            tf > 0,
            F.log((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * (k1 + 1)) / (tf + norm),
        ).otherwise(0.0)
        for tf, df in zip(tfs, dfs)
    ]
    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            reduce(operator.add, [(tf > 0).cast("long") for tf in tfs]).alias("n_matched_terms"),
            reduce(operator.add, term_scores).alias("score_raw"),
        )
        .filter(F.col("n_matched_terms") > 0)
    )
    return (
        scored.select(
            "doc_id", "n_matched_terms", qround(F.col("score_raw"), 6).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(topn)
    )

def ngram_novelty(documents: DataFrame, shingle_n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word shingles that appear in no other document (corpus document
    frequency 1) -- the content-originality signal that separates
    authored text (high novelty) from templated / boilerplate / copied
    text (low novelty) even when no single pair crosses a dedup
    threshold.  Docs too short to shingle report NULL novelty.

    Scale: the shingling projection runs once; the document-frequency
    aggregate partial-aggregates map-side over (shingle -> df); the
    df join back to the doc's shingles is an equi-join on the shingle
    (Zipf: the distinct-shingle table is far smaller than token volume).
    Two shuffles total -- the same inverted-index discipline as
    ``ngram_jaccard_pairs``, with no pair expansion at all."""
    from ..functions.hashing import shingles_expr

    sh = (
        _spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(F.expr(shingles_expr("text", shingle_n)))
            ).alias("shingle"),
        )
    )
    present = sh.filter(F.col("shingle").isNotNull())
    df_tbl = present.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        present.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
    )
    all_docs = documents.select("doc_id")
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.when(
                F.col("n_shingles") > 0,
                qround(F.col("n_unique") / F.col("n_shingles").cast("double"), 6),
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )

def cross_entropy_eval(
    documents: DataFrame, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Train/val/test cross-entropy audit: fit an add-one-smoothed
    unigram LM on the TRAIN split (the same deterministic md5 split as
    ``dataset_split_counts``) and report each split's token count,
    cross-entropy under that model, and out-of-vocabulary rate -- the
    eval-discipline query that catches split leakage (val CE suspiciously
    equal to train CE) and distribution shift (test OOV spiking) before
    anyone trains on the data.

    Smoothing: p(t) = (cf_train(t) + 1) / (N_train + V_train + 1), with
    unseen tokens taking cf 0 -- so every probability is finite and the
    whole report is exactly oracle-checkable.

    Scale: one token explode; the train-vocab aggregate and the
    terms-to-vocab join are the ``unigram_logprob`` shape (vocab tiny by
    Zipf, broadcast); the model scalars (N, V) cross in as a broadcast
    single row; the final groupBy has three groups."""
    bucket = md5_long(F.concat_ws(":", F.lit("split"), F.col("doc_id"))) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    terms = (
        _spread(documents.select("doc_id", "text"))
        .select(
            split.alias("split"),
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 1)
    )
    vocab = (
        terms.filter(F.col("split") == "train")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    model = vocab.agg(
        F.sum("cf").cast("double").alias("n_train"),
        F.count(F.lit(1)).cast("double").alias("v_train"),
    )
    logp = F.log(
        (F.coalesce(F.col("cf"), F.lit(0)) + F.lit(1.0))
        / (F.col("n_train") + F.col("v_train") + F.lit(1.0))
    )
    scored = (
        terms.join(vocab, "term", "left")
        .crossJoin(F.broadcast(model))
        .select(
            "split",
            logp.alias("logp"),
            F.col("cf").isNull().cast("long").alias("oov"),
        )
    )
    return (
        scored.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            qround(-F.avg("logp"), 6).alias("cross_entropy"),
            qround(F.avg(F.col("oov").cast("double")), 6).alias("oov_rate"),
        )
        .orderBy("split")
    )

def _bpe_merge_sql(l: str, r: str) -> str:
    """One BPE merge as a pure array-fold projection over a ``syms``
    column: rewrite every adjacent (l, r) pair to l||r via a
    skip-flagged index fold -- no shuffle, no Python.  Shared by the
    trainer (per learned step) and the encoder (per shipped merge), so
    apply-time tokenization can never drift from what training
    produced."""
    l_sql = l.replace("'", "\\'")
    r_sql = r.replace("'", "\\'")
    return (
        "aggregate(sequence(0, size(syms) - 1),"
        " named_struct('out', cast(array() as array<string>), 'skip', false),"
        " (acc, i) -> CASE"
        "   WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)"
        f"  WHEN i < size(syms) - 1 AND syms[i] = '{l_sql}'"
        f"       AND syms[i+1] = '{r_sql}'"
        f"    THEN named_struct('out', array_append(acc.out, '{l_sql}{r_sql}'),"
        "          'skip', true)"
        "   ELSE named_struct('out', array_append(acc.out, syms[i]),"
        "        'skip', false) END,"
        " acc -> acc.out)"
    )


def bpe_train_merges(documents: DataFrame, n_merges: int = 6) -> DataFrame:
    """Distributed BPE tokenizer training: learn the first ``n_merges``
    byte-pair-encoding merges from the corpus (Sennrich et al. 2016) --
    repeatedly count adjacent symbol pairs, merge the most frequent one
    everywhere, and record the merge table a tokenizer would ship.
    Ties break lexicographically so the learned table is deterministic.

    Scale: the critical move is that BPE training never touches the
    corpus after one pass -- the corpus collapses to the (word, freq)
    VOCABULARY table (Zipf: thousands of rows where the corpus has
    billions of tokens), every pair count is weighted by ``freq``, and
    each merge iteration is a vocab-cardinality groupBy plus a pure
    array-fold projection rewriting the symbol arrays.  The per-step
    argmax is a 1-row driver collect (metadata, like the versioned-table
    manifests); each step localCheckpoints the tiny vocab frame so the
    lineage does not stack across iterations (same discipline as
    ``dedup.min_label_components``).  Genuinely iterative, so this query
    is rows-only for the driver; pytest pins it against a reference
    in-memory BPE implementation."""
    words = (
        _spread(documents.select("text"))
        .select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        "freq",
        F.expr("array_append(split(w, ''), '</w>')").alias("syms"),
    ).localCheckpoint(eager=True)

    merges = []
    for step in range(n_merges):
        pairs = vocab.select(
            "freq",
            # CASE guard: sequence(0, -1) DESCENDS in Spark, so a
            # single-symbol word would index syms[-1] (same trap as
            # functions.hashing.shingles_expr documents)
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) >= 2 THEN"
                    " transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS l, syms[i+1] AS r))"
                    " ELSE array() END"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] is None:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((step, l, r, int(cnt)))
        vocab = vocab.select(
            "freq", F.expr(_bpe_merge_sql(l, r)).alias("syms")
        ).localCheckpoint(eager=True)
    spark = documents.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_count long"
    ).orderBy("step")


_BPE_MERGE_CACHE: dict = {}


def fit_bpe_merges(
    documents: DataFrame, cache_key: str, n_merges: int = 6
) -> list[tuple[str, str]]:
    """Train (or fetch the cached) BPE merge list for a dataset -- the
    apply-side counterpart of fit_pca/fit_codebook: training is the
    iterative vocab-cardinality loop of ``bpe_train_merges`` and runs
    once per (session, dataset); encoding then reuses the table."""
    spark = documents.sparkSession
    key = (id(spark.sparkContext), cache_key, n_merges)
    merges = _BPE_MERGE_CACHE.get(key)
    if merges is None:
        rows = bpe_train_merges(documents, n_merges=n_merges).collect()
        merges = [(r["left"], r["right"]) for r in rows]
        _BPE_MERGE_CACHE[key] = merges
    return merges


def bpe_encode_report(
    documents: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply a trained BPE merge table to the corpus and report per-doc
    tokenization stats in the oracle-checkable audit form: ``n_words``
    and ``n_alpha_chars`` are exactly recomputable by the oracle;
    the subtoken totals (which depend on the learned merges) fold into
    two certificates -- ``tokens_bounded`` (per doc:
    n_words <= total subtokens <= alpha chars + n_words, the structural
    BPE invariant) and ``all_roundtrip_ok`` (concatenating every word's
    subtokens and stripping the </w> marker reproduces the word
    exactly -- a lossless-segmentation proof).

    Scale: THE tokenizer-application shape for a 100 TB corpus -- the
    merge folds run over the DISTINCT-WORD vocabulary (Zipf: thousands
    of rows), never the corpus; the corpus-sized work is one partial-agg
    (doc, word) count and one vocab-keyed join back (broadcastable
    whenever the vocab fits, as any natural-language vocab does).  Each
    merge is a pure array-fold projection (``_bpe_merge_sql``), zero
    shuffle."""
    toks = (
        documents.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), "[^a-z]+")
            ).alias("w"),
        )
        .filter(F.length("w") >= 1)
    )
    doc_words = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        toks.select("w")
        .distinct()
        .select("w", F.expr("array_append(split(w, ''), '</w>')").alias("syms"))
    )
    for l, r in merges:
        vocab = vocab.select("w", F.expr(_bpe_merge_sql(l, r)).alias("syms"))
    encoded = vocab.select(
        "w",
        F.size("syms").alias("n_sub"),
        (
            F.replace(F.concat_ws("", F.col("syms")), F.lit("</w>"), F.lit(""))
            == F.col("w")
        ).alias("rt_ok"),
    )
    joined = doc_words.join(F.broadcast(encoded), "w")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.length("w") * F.col("cnt")).alias("n_alpha_chars"),
            F.sum(F.col("n_sub") * F.col("cnt")).alias("total_sub"),
            F.min(F.col("rt_ok")).alias("all_roundtrip_ok"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_alpha_chars",
            (
                (F.col("total_sub") >= F.col("n_words"))
                & (F.col("total_sub") <= F.col("n_alpha_chars") + F.col("n_words"))
            ).alias("tokens_bounded"),
            "all_roundtrip_ok",
        )
        .orderBy("doc_id")
    )

def zipf_fit(documents: DataFrame, min_freq: int = 2) -> DataFrame:
    """Zipf's-law fit of the corpus term distribution: regress ln(freq)
    on ln(rank) over terms with frequency >= ``min_freq`` and report the
    slope (a healthy natural-language corpus sits near -1), intercept,
    and correlation -- the one-row diagnostic that flags machine-
    generated or template-heavy corpora (slopes far from -1, poor fit)
    before any model trains on them.

    Scale: one token explode + one partial-agg vocab count; the rank is
    a global sort at VOCAB cardinality (Zipf-bounded, not corpus-
    bounded), and the regression is the one-pass covar_pop/var_pop
    closed form over that frame.  Nothing after the vocab aggregate is
    data-sized."""
    terms = (
        _spread(documents.select("text"))
        .select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"))
        .filter(F.length("term") >= 1)
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    ranked = vocab.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), F.col("term")))
            .cast("double")
        ).alias("lr"),
        F.log(F.col("freq").cast("double")).alias("lf"),
    )
    var_lr = F.var_pop("lr")
    denom = F.stddev_pop("lr") * F.stddev_pop("lf")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.when(var_lr != 0, qround(F.covar_pop("lr", "lf") / var_lr, 6)).alias(
            "zipf_slope"
        ),
        F.when(
            var_lr != 0,
            qround(
                F.avg("lf") - (F.covar_pop("lr", "lf") / var_lr) * F.avg("lr"), 6
            ),
        ).alias("intercept"),
        F.when(denom != 0, qround(F.covar_pop("lr", "lf") / denom, 6)).alias(
            "fit_corr"
        ),
    )


def nb_lang_classifier(documents: DataFrame, train_pct: int = 80) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and evaluated
    in one query: documents split train/test by the deterministic md5
    bucket convention (``md5(doc_id) % 100 < train_pct``), per-(lang,
    token) counts with add-one smoothing fit the model, every test doc
    scores against every language, and the output is the confusion
    matrix (true lang x predicted lang with row shares).  Scores are
    quantized before the argmax so the prediction decision is
    bit-identical on both engines; ties break toward the smaller lang.

    Scale: training is one token explode + partial-aggregable groupBy at
    vocabulary cardinality; scoring joins test tokens to the model on
    the token key (broadcast while the vocab fits -- Zipf keeps it far
    smaller than token volume) after a bounded |langs|-way expansion of
    the token list; the confusion rollup runs at |langs|^2 cardinality."""
    from ..functions.hashing import md5_long

    docs = documents.select(
        "doc_id",
        "lang",
        (md5_long(F.col("doc_id").cast("string")) % 100 < train_pct).alias(
            "is_train"
        ),
    )
    toks = (
        documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 1)
        .join(docs, "doc_id")
    )
    train_counts = (
        toks.filter("is_train")
        .groupBy(F.col("lang").alias("m_lang"), "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lang_tot = train_counts.groupBy("m_lang").agg(F.sum("cnt").alias("tot"))
    vocab_size = train_counts.select("term").distinct().agg(
        F.count(F.lit(1)).alias("vsize")
    )
    train_docs = docs.filter("is_train")
    priors = (
        train_docs.groupBy(F.col("lang").alias("m_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs_l"))
        .crossJoin(
            F.broadcast(train_docs.agg(F.count(F.lit(1)).alias("n_train")))
        )
        .select(
            "m_lang",
            F.log(F.col("n_docs_l") / F.col("n_train")).alias("ln_prior"),
        )
    )
    test_terms = (
        toks.filter(~F.col("is_train"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "term")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    model = (
        train_counts.join(lang_tot, "m_lang")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "m_lang",
            "term",
            F.log((F.col("cnt") + 1) / (F.col("tot") + F.col("vsize"))).alias(
                "ln_p"
            ),
        )
    )
    langs = lang_tot.crossJoin(F.broadcast(vocab_size)).select(
        "m_lang", F.log(F.lit(1.0) / (F.col("tot") + F.col("vsize"))).alias("ln_unseen")
    )
    scored = (
        test_terms.crossJoin(F.broadcast(langs))
        .join(F.broadcast(model), ["m_lang", "term"], "left")
        .groupBy("doc_id", "true_lang", "m_lang")
        .agg(
            F.sum(
                F.col("m") * F.coalesce(F.col("ln_p"), F.col("ln_unseen"))
            ).alias("ll")
        )
        .join(F.broadcast(priors), "m_lang")
        .select(
            "doc_id",
            "true_lang",
            "m_lang",
            qround(F.col("ll") + F.col("ln_prior"), 6).alias("score_q"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(F.col("score_q").desc(), "m_lang")
    preds = scored.withColumn("prank", F.row_number().over(wp)).filter(
        F.col("prank") == 1
    )
    conf = preds.groupBy("true_lang", F.col("m_lang").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wt = Window.partitionBy("true_lang")
    return conf.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        qround(F.col("n_docs") / F.sum("n_docs").over(wt), 6).alias("share"),
    ).orderBy("true_lang", "pred_lang")


def readability_scores(documents: DataFrame) -> DataFrame:
    """Per-source readability profile via Flesch Reading Ease and
    Flesch-Kincaid grade (Kincaid et al. 1975), over the shared
    heuristics: words = maximal ``[a-z]+`` runs of the lowercased text,
    syllables = vowel-group (``[aeiouy]+``) runs per word floored at 1,
    sentences = ``[.!?]+`` runs floored at 1:

        flesch = 206.835 - 1.015 * (words / sentences)
                 - 84.6 * (syllables / words)
        fk     = 0.39 * (words / sentences)
                 + 11.8 * (syllables / words) - 15.59

    Empty documents (zero words) keep NULL scores and are skipped by the
    averages; ``readable_share`` is the fraction of docs at
    flesch >= 60 (the "plain English" bar), with NULL-score docs
    counting as unreadable in both engines (NULL >= 60 falls through
    the CASE).

    Scale: one scan-side projection (regex + integer folds, all
    codegen'd -- no UDF), one partial-aggregable groupBy at source
    cardinality."""
    words = "regexp_extract_all(lower(text), '[a-z]+', 0)"
    n_words = f"size({words})"
    syls = (
        f"aggregate(transform({words}, "
        f"w -> greatest(1, size(regexp_extract_all(w, '[aeiouy]+', 0)))), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    n_sents = "greatest(1, size(regexp_extract_all(text, '[.!?]+', 0)))"
    per_doc = documents.select(
        "source",
        F.expr(f"cast({n_words} as double) / {n_sents}").alias("wps"),
        F.expr(
            f"CASE WHEN {n_words} > 0 "
            f"THEN cast({syls} as double) / {n_words} END"
        ).alias("spw"),
    ).withColumn(
        "flesch", F.expr("206.835 - 1.015 * wps - 84.6 * spw")
    ).withColumn(
        "fk", F.expr("0.39 * wps + 11.8 * spw - 15.59")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        qround(F.avg("wps"), 6).alias("avg_words_per_sentence"),
        qround(F.avg("spw"), 6).alias("avg_syllables_per_word"),
        qround(F.avg("flesch"), 6).alias("avg_flesch"),
        qround(F.avg("fk"), 6).alias("avg_fk_grade"),
        qround(
            F.avg(F.expr("CASE WHEN flesch >= 60.0 THEN 1.0 ELSE 0.0 END")), 6
        ).alias("readable_share"),
    ).orderBy("source")


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Tokenizer fertility matrix by (lang, source): mean tokens per
    document, mean characters per token, and mean type-token ratio --
    the per-slice compression profile that decides whether a tokenizer
    (here the whitespace baseline) is fair across languages before a
    token budget is split (high chars/token = under-segmented slice,
    low type-token ratio = repetitive slice).

    Scale: every metric is a row-local array expression (one tokenize
    per doc, zero shuffle before the final (lang, source)-cardinality
    groupBy -- partial-aggregable)."""
    toks = _tokens()
    n_tok = F.size(toks)
    ttr = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok)
    cpt = F.when(n_tok > 0, F.col("n_chars") / n_tok)
    per_doc = documents.select(
        "lang", "source", n_tok.alias("n_tok"), ttr.alias("ttr"), cpt.alias("cpt")
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            qround(F.avg("n_tok"), 4).alias("avg_tokens_per_doc"),
            qround(F.avg("cpt"), 6).alias("avg_chars_per_token"),
            qround(F.avg("ttr"), 6).alias("avg_type_token_ratio"),
        )
        .orderBy("lang", "source")
    )


def ngram_coverage_curve(
    documents: DataFrame, cutoffs: tuple = (10, 100, 1000)
) -> DataFrame:
    """Vocabulary-compression curve: the fraction of all corpus token
    occurrences covered by the top-k most frequent tokens, at each
    cutoff -- the concentration readout (Zipf in cumulative form) that
    sizes stopword lists and predicts how far a small vocabulary goes.
    Ranking tie-breaks on the token string for engine determinism.

    Scale: the explode + frequency groupBy runs at corpus scale
    (partial-aggregable); the ranking window is GLOBAL but over
    VOCABULARY cardinality (distinct tokens -- the zipf_fit precedent),
    orders of magnitude below corpus cardinality; the cutoff fan-out is
    a constant 3x on vocab rows."""
    toks = _spread(documents.select("text")).select(
        F.explode(_tokens()).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    ranked = freq.select("n", F.row_number().over(w).alias("rnk"))
    total = freq.agg(F.sum("n").alias("n_total"))
    swept = ranked.select(
        "n",
        "rnk",
        F.explode(F.array(*[F.lit(int(c)) for c in sorted(cutoffs)])).alias("top_k"),
    ).filter(F.col("rnk") <= F.col("top_k"))
    agg = swept.groupBy("top_k").agg(
        F.max("rnk").alias("n_tokens_used"),
        F.sum("n").alias("covered_occurrences"),
    )
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "top_k",
            "n_tokens_used",
            "covered_occurrences",
            qround(F.col("covered_occurrences") / F.col("n_total"), 6).alias(
                "coverage_pct"
            ),
        )
        .orderBy("top_k")
    )


def ngram_novelty_rate(
    documents: DataFrame, shingle_n: int = 3, holdout_mod: int = 5
) -> DataFrame:
    """Train/holdout n-gram novelty per language: split the corpus
    deterministically (md5(doc_id) % ``holdout_mod`` == 0 plays the
    holdout), and report what fraction of the holdout's DISTINCT word
    n-grams never occur in the training split -- the generalization-gap
    readout that tells a pretraining curator whether a holdout actually
    exercises unseen text or just re-samples the training distribution
    (novelty near 0 = memorization-friendly eval; near 1 = distribution
    shift).  Distinct from ``ngram_novelty`` (per-document originality:
    the fraction of a doc's shingles with corpus df = 1) -- this one is
    a SPLIT property, that one a document property.

    Scale: the shingling projection runs once; shingles are md5-hashed
    to 60-bit longs INSIDE the array and per-doc-deduped
    (array_distinct) BEFORE the explode, so the explode emits 8-byte
    longs instead of shingle strings.  Split membership then collapses
    in ONE partial-aggregable groupBy (lang, hash) -> (seen-in-train,
    seen-in-holdout) boolean pair -- map-side aggregation dedups the
    token stream before the exchange, and "novel" is simply
    holdout AND NOT train on the vocabulary-cardinality frame, so the
    former global distinct + left-anti join (two extra vocabulary
    shuffles) never happens.  All counts are exact integers; the rate
    is a ratio of exact integers."""
    from ..functions.hashing import md5_long, shingles_expr
    from ..functions.numeric import qround

    hs = F.expr(
        "array_distinct(transform("
        + shingles_expr("coalesce(text, '')", shingle_n)
        + ", s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)))"
    )
    holdout = (
        md5_long(F.concat_ws(":", F.lit("nov"), F.col("doc_id"))) % holdout_mod
        == 0
    )
    # _spread before the per-shingle md5 projection (r14): the fixture
    # scan is one file -> one partition, so without it the entire
    # hashing pass -- the query's dominant cost, and the reason it led
    # the r13 slowest-5 -- ran on a single task with 31 cores idle (the
    # identical round-13 jpeg/gif finding, guide s2.5 input skew).
    hashed = _spread(documents.select("doc_id", "lang", "text")).select(
        "lang", holdout.alias("is_holdout"), F.explode(hs).alias("h")
    )
    vocab = hashed.groupBy("lang", "h").agg(
        F.max("is_holdout").alias("in_holdout"),
        F.max(~F.col("is_holdout")).alias("in_train"),
    )
    return (
        vocab.filter(F.col("in_holdout"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_holdout_ngrams"),
            F.sum((~F.col("in_train")).cast("long")).alias("n_novel_ngrams"),
        )
        .select(
            "lang",
            "n_holdout_ngrams",
            "n_novel_ngrams",
            qround(
                F.col("n_novel_ngrams") / F.col("n_holdout_ngrams"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("lang")
    )


GATE_RULES = ("min_chars", "min_words", "dup_words", "top_word")


def quality_filter_funnel(documents: DataFrame) -> DataFrame:
    """Sequential attrition card for the ``quality_gate`` rule chain:
    how many documents survive after each rule is applied IN ORDER
    (corpus -> min_chars -> min_words -> dup_words -> top_word) -- the
    per-stage removal attribution a curator reads before shipping a
    filter config (a rule that drops 40% of what survived the previous
    rules is doing real work; one that drops 0.1% is dead weight).

    Built ON the gate's own output (the per-doc ``reasons`` audit
    column), so the funnel can never drift from the gate it summarizes
    -- the ``dedup_funnel`` nested-oracle discipline.  Scale: the gate
    is row-local; the funnel adds ONE aggregate over boolean chains and
    a 5-row explode.  All counts exact integers."""
    gate = quality_gate(documents)
    fails = [
        F.array_contains(F.split(F.col("reasons"), ","), rule)
        for rule in GATE_RULES
    ]
    surv = []
    cond = F.lit(True)
    for f in fails:
        cond = cond & ~f
        surv.append(F.sum(cond.cast("long")))
    agg = gate.agg(
        F.count(F.lit(1)).alias("n0"),
        *[s.alias(f"n{i + 1}") for i, s in enumerate(surv)],
    )
    stages = [
        F.struct(
            F.lit(i).cast("long").alias("stage"),
            F.lit(name).alias("rule"),
            F.col(f"n{i}").alias("n_surviving"),
            (
                (F.col(f"n{i - 1}") if i else F.col("n0"))
                - F.col(f"n{i}")
            ).alias("n_dropped_here"),
        )
        for i, name in enumerate(("corpus",) + GATE_RULES)
    ]
    from ..functions.numeric import qround

    return (
        agg.select(F.explode(F.array(*stages)).alias("s"), F.col("n0"))
        .select(
            "s.stage",
            "s.rule",
            "s.n_surviving",
            "s.n_dropped_here",
            qround(F.col("s.n_surviving") / F.col("n0"), 6).alias(
                "pct_of_corpus"
            ),
        )
        .orderBy("stage")
    )


def code_prose_classifier(documents: DataFrame) -> DataFrame:
    """Heuristic code-vs-prose detector aggregated per source -- the
    screen a pretraining mix runs to route documents to a code pipeline
    (different dedup granularity, different quality gates) before any
    expensive model-based classifier.  Signals: structural-symbol
    density (braces/brackets/semicolons/operators) and indented-line
    share; a doc is 'code' when symbols exceed 2% of characters OR
    indented lines exceed a third of lines.  Thresholds are applied as
    exact INTEGER cross-multiplications (n_sym * 50 > n_chars), so no
    ratio is computed row-side and both engines cut identical sets.

    Scale: pure row-local regexp counting fused into the scan (JVM
    codegen, no Python, no shuffle before the source-cardinality
    groupBy) -- the pii_density_by_source shape."""
    from ..functions.numeric import qround

    text = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(text)
    n_sym = F.size(F.regexp_extract_all(text, F.lit(r"[{}()\[\];=<>#]"), 0))
    n_lines = F.size(F.regexp_extract_all(text, F.lit("\n"), 0)) + F.lit(1)
    # (?d) = UNIX_LINES: without it Java's multiline ^ also matches
    # after \r, \r\n, U+0085, U+2028, U+2029 while DuckDB's RE2 ^
    # matches only after \n -- a document with a bare \r or a Unicode
    # line separator would diverge from the oracle (round-11 advisor)
    n_indent = F.size(F.regexp_extract_all(text, F.lit("(?d)(?m)^[ \t]"), 0))
    is_code = (n_sym * F.lit(50) > n_chars) | (
        n_indent * F.lit(3) > n_lines
    )
    per_doc = documents.select(
        "source",
        n_chars.cast("long").alias("n_chars"),
        n_sym.cast("long").alias("n_sym"),
        n_lines.cast("long").alias("n_lines"),
        n_indent.cast("long").alias("n_indent"),
        is_code.cast("long").alias("is_code"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_code").alias("n_code"),
        F.sum("n_sym").alias("sum_sym"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_indent").alias("sum_indent"),
        F.sum("n_lines").alias("sum_lines"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_code",
        qround(
            F.col("n_code").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("code_ratio"),
        F.when(
            F.col("sum_chars") > 0,
            qround(
                F.col("sum_sym").cast("double")
                * F.lit(100.0)
                / F.col("sum_chars").cast("double"),
                6,
            ),
        ).alias("sym_per_100_chars"),
        F.when(
            F.col("sum_lines") > 0,
            qround(
                F.col("sum_indent").cast("double")
                / F.col("sum_lines").cast("double"),
                6,
            ),
        ).alias("indent_line_share"),
    ).orderBy("source")


def trigram_interpolated_logprob(
    documents: DataFrame, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Jelinek-Mercer interpolated TRIGRAM language model evaluated per
    split: fit ML trigram/bigram tables plus an add-one unigram on the
    TRAIN split (the same deterministic md5 split as
    ``cross_entropy_eval``), score every split's trigrams under
    P = 0.6*P3 + 0.3*P2 + 0.1*P1, and report cross-entropy, perplexity,
    and the trigram/bigram evidence hit rates.  The top of the n-gram
    ladder (unigram_logprob -> bigram_logprob -> this): interpolation
    is what production KenLM-style filters actually run, because pure
    ML trigrams assign zero to every unseen context while pure unigrams
    ignore order -- and the hit rates show exactly how often each tier
    carries the estimate (the val-vs-train gap is the sharpest
    memorization probe this side of a real LM).

    Scale: trigram/bigram expansion is row-local explode fan-out; all
    count tables partial-aggregate and are Zipf-small next to token
    volume, so every probability join is broadcast-until-large; model
    scalars cross in as one broadcast row; the final groupBy has three
    groups.  Determinism: probabilities are rationals of exact counts
    with shared lambda literals; the avg(ln) at split granularity is
    the cross_entropy_eval precedent (absorbed by the 6 dp quantize)."""
    from ..functions.hashing import md5_long
    from ..functions.numeric import qround

    bucket = (
        md5_long(F.concat_ws(":", F.lit("split"), F.col("doc_id"))) % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    toks = F.expr(
        "filter(split(lower(text), '[^a-z]+'), x -> length(x) >= 1)"
    )
    base = _spread(documents.select("doc_id", "text")).select(
        split.alias("split"), toks.alias("w")
    )
    tris = base.select(
        "split",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w)-3),"
                " i -> struct(w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3))"
                " ELSE array() END"
            )
        ).alias("t"),
    ).select("split", "t.w1", "t.w2", "t.w3")
    train_tris = tris.filter(F.col("split") == "train")
    c3 = train_tris.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    )
    # context totals are MARGINALS of the count tables they back
    # (c2ctx(w1,w2) = sum_w3 c3; c1ctx(v1) = sum_v2 c2): rolling them up
    # from the Zipf-small tables is value-identical to the former
    # re-aggregation of the token stream and removes one full corpus
    # tokenize+explode pass per table
    c2ctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c2ctx"))
    train_pairs = (
        base.filter(F.col("split") == "train")
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w)-2),"
                    " i -> struct(w[i] AS v1, w[i+1] AS v2)) ELSE array() END"
                )
            ).alias("b")
        )
        .select("b.v1", "b.v2")
    )
    c2 = train_pairs.groupBy("v1", "v2").agg(F.count(F.lit(1)).alias("c2"))
    c1ctx = c2.groupBy("v1").agg(F.sum("c2").alias("c1ctx"))
    vocab = (
        base.filter(F.col("split") == "train")
        .select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    model = vocab.agg(
        F.sum("cf").cast("double").alias("n_train"),
        F.count(F.lit(1)).cast("double").alias("v_train"),
    )
    scored = (
        tris.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2ctx, ["w1", "w2"], "left")
        .join(
            c2.select(
                F.col("v1").alias("w2"), F.col("v2").alias("w3"), "c2"
            ),
            ["w2", "w3"],
            "left",
        )
        .join(c1ctx.select(F.col("v1").alias("w2"), "c1ctx"), "w2", "left")
        .join(vocab.select(F.col("t").alias("w3"), "cf"), "w3", "left")
        .crossJoin(F.broadcast(model))
    )
    p3 = F.coalesce(
        F.col("c3").cast("double") / F.col("c2ctx").cast("double"), F.lit(0.0)
    )
    p2 = F.coalesce(
        F.col("c2").cast("double") / F.col("c1ctx").cast("double"), F.lit(0.0)
    )
    p1 = (F.coalesce(F.col("cf"), F.lit(0)) + F.lit(1.0)) / (
        F.col("n_train") + F.col("v_train") + F.lit(1.0)
    )
    p = F.lit(0.6) * p3 + F.lit(0.3) * p2 + F.lit(0.1) * p1
    rows = scored.select(
        "split",
        F.log(p).alias("logp"),
        F.col("c3").isNotNull().cast("long").alias("hit3"),
        F.col("c2").isNotNull().cast("long").alias("hit2"),
    )
    agg = rows.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        qround(-F.avg("logp"), 6).alias("cross_entropy"),
        qround(F.avg(F.col("hit3").cast("double")), 6).alias("hit3_rate"),
        qround(F.avg(F.col("hit2").cast("double")), 6).alias("hit2_rate"),
    )
    return agg.select(
        "split",
        "n_trigrams",
        "cross_entropy",
        qround(F.exp(F.col("cross_entropy")), 4).alias("perplexity"),
        "hit3_rate",
        "hit2_rate",
    ).orderBy("split")


def heaps_law_fit(documents: DataFrame, n_checkpoints: int = 10) -> DataFrame:
    """Heaps'-law vocabulary-growth curve and fit: distinct-term count
    V(n) at 10 corpus prefixes, plus the OLS fit of ln V on ln n
    (V ~ K * n^beta; natural-language corpora sit near beta 0.4-0.6).
    A flattening curve (small beta) means new documents stop bringing
    new vocabulary -- the cheap corpus-level redundancy smell read
    BEFORE paying for dedup; template/boilerplate floods push beta
    toward 0, synthetic id-heavy text toward 1.  Complements zipf_fit
    (frequency law at one snapshot) with the GROWTH law across corpus
    size.

    Prefixes are doc_id-ordered with thresholds at equal fractions of
    the [min_id, max_id] VALUE range -- exact integer min/max plus one
    double multiply, bit-identical cross-engine, deliberately NOT an
    order statistic (interpolated percentiles of ids would hang the
    bucket boundary on engine-internal interpolation formulas).

    Scale: one token explode + one partial-agg min(doc_id) per term
    (vocabulary cardinality); prefix counts are ONE conditional-sum
    pass each over ids and first-occurrences against a broadcast 1-row
    threshold array -- no corpus-cardinality window, no per-prefix
    rescan; the fit folds 10 points."""
    ps = [(i + 1) / n_checkpoints for i in range(n_checkpoints)]
    docs = _spread(documents.select("doc_id", "text"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") >= 1)
    first = terms.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    t_exprs = [
        (
            F.col("lo").cast("double")
            + F.lit(p) * (F.col("hi") - F.col("lo")).cast("double")
        ).alias(f"t{i}")
        for i, p in enumerate(ps)
    ]
    thr = rng.select(*t_exprs)
    nd = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(thr))
        .agg(
            F.array(
                *[
                    F.sum(
                        (F.col("doc_id").cast("double") <= F.col(f"t{i}")).cast(
                            "long"
                        )
                    )
                    for i in range(n_checkpoints)
                ]
            ).alias("nds")
        )
    )
    vs = (
        first.crossJoin(F.broadcast(thr))
        .agg(
            F.array(
                *[
                    F.sum(
                        (
                            F.col("first_doc").cast("double") <= F.col(f"t{i}")
                        ).cast("long")
                    )
                    for i in range(n_checkpoints)
                ]
            ).alias("vss")
        )
    )
    curve = (
        nd.crossJoin(F.broadcast(vs))
        .select(
            F.posexplode(
                F.expr("zip_with(nds, vss, (n, v) -> struct(n AS n, v AS v))")
            ).alias("i", "s")
        )
        .select(
            ((F.col("i") + 1) * F.lit(100 // n_checkpoints)).alias("pct_range"),
            F.col("s.n").alias("n_docs"),
            F.col("s.v").alias("vocab_size"),
        )
    )
    xy = curve.filter((F.col("n_docs") > 0) & (F.col("vocab_size") > 0)).select(
        F.log(F.col("n_docs").cast("double")).alias("x"),
        F.log(F.col("vocab_size").cast("double")).alias("y"),
    )
    var_x = F.var_pop("x")
    beta = F.covar_pop("x", "y") / var_x
    denom = F.stddev_pop("x") * F.stddev_pop("y")
    fit = xy.agg(
        F.when(var_x != 0, qround(beta, 6)).alias("heaps_beta"),
        F.when(var_x != 0, qround(F.exp(F.avg("y") - beta * F.avg("x")), 6)).alias(
            "heaps_k"
        ),
        F.when(denom != 0, qround(F.covar_pop("x", "y") / denom, 6)).alias(
            "fit_corr"
        ),
    )
    return (
        curve.crossJoin(F.broadcast(fit))
        .select(
            "pct_range", "n_docs", "vocab_size", "heaps_beta", "heaps_k",
            "fit_corr",
        )
        .orderBy("pct_range")
    )


QL_MU = 50.0


def query_likelihood_search(
    documents: DataFrame,
    query_terms: tuple = BM25_QUERY_TERMS,
    topn: int = 20,
    mu: float = QL_MU,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001): score(d) = sum_q ln((tf_dq + mu * p_c(q)) / (dl_d + mu)) with
    p_c the corpus unigram model -- the OTHER canonical probabilistic
    ranker next to bm25_search, and the one whose smoothing makes a
    document pay for every query term it lacks (BM25 just scores the
    matches).

    Scored via the postings-only decomposition
    score = sum_q ln(mu p_q) - |Q| ln(dl + mu)
          + sum_{q: tf>0} ln(1 + tf C / (mu cf_q)),
    algebraically identical to the direct form but touching ONLY query
    postings + the per-doc length table (the bm25 inverted-index
    discipline; both engines compute the SAME decomposed IEEE ops).
    Query terms absent from the corpus (cf = 0, p_c undefined) are
    dropped identically on both engines.

    Scale: corpus totals and the per-term cf table are one
    partial-aggregated pass; scoring joins query postings (broadcast
    term side) against the doc-length table; top-N is
    TakeOrderedAndProject, never a global sort."""
    from ..functions.numeric import qround

    terms = (
        _spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 3)
    )
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = terms.agg(F.count(F.lit(1)).cast("double").alias("c_total"))
    qlist = list(query_terms)
    qterms = terms.filter(F.col("term").isin(qlist))
    cf_tbl = qterms.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("cf")
    )
    base = (
        cf_tbl.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.log(F.lit(mu) * F.col("cf") / F.col("c_total"))).alias("s0"),
            F.count(F.lit(1)).cast("double").alias("n_q"),
        )
    )
    tf_tbl = qterms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    matched = (
        tf_tbl.join(F.broadcast(cf_tbl), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(
                F.lit(1.0)
                + (F.col("tf") * F.col("c_total")) / (F.lit(mu) * F.col("cf"))
            ).alias("m_term"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.sum("m_term").alias("m_sum"),
        )
    )
    return (
        matched.join(dl, "doc_id")
        .crossJoin(F.broadcast(base))
        .select(
            "doc_id",
            "n_matched_terms",
            "dl",
            qround(
                F.col("s0")
                - F.col("n_q") * F.log(F.col("dl").cast("double") + F.lit(mu))
                + F.col("m_sum"),
                6,
            ).alias("ql_score"),
        )
        .orderBy(F.col("ql_score").desc(), "doc_id")
        .limit(topn)
    )


def lexical_richness(documents: DataFrame) -> DataFrame:
    """Per-source lexical-richness profile from the token frequency
    spectrum: Yule's K = 10^4 * (S2 - N) / N^2 (repeat-rate
    characteristic -- LOW K = rich vocabulary, HIGH K = repetitive
    boilerplate; famously near-invariant to text length, unlike raw
    TTR), Simpson's diversity D = (S2 - N) / (N * (N - 1)) (probability
    two random tokens are the same type), and Herdan's C = ln V / ln N
    (log-log TTR), where N = total tokens, V = distinct types and
    S2 = sum of squared type frequencies.  The source-level companion to
    the per-document word_entropy screen and the corpus-level
    heaps_law_fit / zipf_fit views: a training-data curator reads K to
    rank sources by template-spam risk before mixing.

    Scale: one (source, term) partial-aggregable count (the word_entropy
    shuffle, keyed one level coarser), then a source-cardinality rollup;
    N, V, S2 are exact BIGINTs so both engines divide the same integers
    and every emitted double is bit-identical.  Same tokenizer as
    word_entropy/tf_idf (lower, split on non-letters) so the views agree
    on what a token is."""
    counts = (
        _spread(documents.select("source", "text"))
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 1)
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    ).filter(F.col("n_tokens") >= 2)
    n = F.col("n_tokens").cast("double")
    s2 = F.col("s2").cast("double")
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        qround(F.lit(10000.0) * (s2 - n) / (n * n), 4).alias("yule_k"),
        qround((s2 - n) / (n * (n - F.lit(1.0))), 8).alias("simpson_d"),
        qround(
            F.log(F.col("n_types").cast("double")) / F.log(n), 6
        ).alias("herdan_c"),
    ).orderBy("source")
