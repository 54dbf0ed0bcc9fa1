"""Text analysis operators for training-data pipelines.

All hot-path logic is Column expressions (JVM-side, codegen'd) — no
Python in the per-row path. Every operator is a narrow transform:
zero shuffles, scales linearly with input splits.

Capability context: the reference has NO scalar function library
(SURVEY.md §2.10) — every per-row computation there is a user closure
(e.g. string splitting, examples/file_read.rs:21). Here the same
computations are declarative expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language — a real pipeline
# swaps in fastText/cld3; the *shape* (narrow, expression-only,
# argmax over per-language scores) is the scale-relevant part.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "es", "por"],
}

_MOD = 1_000_000_007


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization, lowercased, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def word_token_count(col: Column | str) -> Column:
    """BPE-ish token count: words, digits and punctuation counted as
    separate tokens (regexp, still JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))


def lang_score(col: Column | str, lang: str) -> Column:
    """Number of DISTINCT stopwords of ``lang`` present in the text."""
    return lang_score_from_tokens(F.array_distinct(tokens(col)), lang)


def lang_score_from_tokens(toks_distinct: Column, lang: str) -> Column:
    """`lang_score` over a pre-deduplicated token array column — lets
    a pipeline tokenize ONCE and share the array across features
    instead of re-splitting the text per language."""
    return F.size(F.array_intersect(
        toks_distinct,
        F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])))


def language_id(col: Column | str) -> Column:
    """n-gram-heuristic language ID: argmax of per-language stopword
    hits; ties broken by language code order; no hits → 'und'."""
    return language_id_from_tokens(F.array_distinct(tokens(col)))


def language_id_from_tokens(toks_distinct: Column) -> Column:
    """`language_id` over a pre-deduplicated token array column."""
    scored = None
    for lang in sorted(LANG_STOPWORDS):
        s = lang_score_from_tokens(toks_distinct, lang)
        pair = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        scored = pair if scored is None else F.when(
            (pair["score"] > scored["score"]), pair).otherwise(scored)
    return F.when(scored["score"] > 0, scored["lang"]).otherwise(F.lit("und"))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return stopword_ratio_from_tokens(tokens(col), lang)


def stopword_ratio_from_tokens(toks: Column, lang: str = "en") -> Column:
    """`stopword_ratio` over a pre-tokenized array column."""
    stops = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length band + low
    punctuation + stopword presence (a stand-in for model-based
    quality filters; the pipeline shape is identical)."""
    c = F.col(col) if isinstance(col, str) else col
    return quality_score_parts(token_count(c), punct_ratio(c),
                               stopword_ratio(c))


def quality_score_parts(n_tok: Column, punct: Column, stopr: Column) -> Column:
    """`quality_score` from pre-computed ingredients — identical
    thresholds, shared-subexpression friendly."""
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct < 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopr > 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    return len_ok + punct_ok + stop_ok


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: polynomial rolling hash over tokens,
    engine-portable (uses only length/char-code arithmetic so an
    external oracle can reproduce it exactly):
        acc = (acc*31 + len(tok)*7 + ascii(first char)) mod 1e9+7
    """
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.length(t) * 7 + F.ascii(t)) % _MOD,
    )


def tf_idf(df: DataFrame, text_col: str, id_col: str,
           top_k: int = 3) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document.

    Plan: explode tokens (narrow) → (doc, term) counts [shuffle 1,
    partial-agg combined] → document frequency per term [shuffle 2,
    carries one row per distinct (term)] → idf joined back broadcast
    (the term dictionary is vocabulary-sized, millions of rows at
    100 TB — still broadcastable; if not, it's an equi-join on term
    that AQE plans shuffled) → per-doc top-k window on (doc).
    Corpus size N enters as a broadcast 1-row aggregate, not a
    driver-side collect. idf = ln((N+1)/(df+1)) + 1 (smoothed).
    """
    toks = (df.select(F.col(id_col).alias("doc"),
                      F.explode(tokens(text_col)).alias("term")))
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (dfreq.join(F.broadcast(n_docs))
           .select("term", "df",
                   (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
                   .alias("idf")))
    scored = (tf.join(idf, "term")
              .select("doc", "term", "tf", "df",
                      F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("doc")
         .orderBy(F.col("tfidf").desc(), F.col("term")))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= top_k)
            .select("doc", "term", "tf", "df", "tfidf", "rk"))


def unigram_logprob_score(df: DataFrame, text_col: str,
                          id_col: str) -> DataFrame:
    """Corpus-unigram language-model quality score per document: the
    mean log-probability of the document's tokens under the corpus's
    own (MLE) unigram distribution. The standard cheap stand-in for
    perplexity-based quality filtering in training-data pipelines.

    Plan: explode tokens (narrow) → corpus term counts [shuffle 1,
    partial-agg combined; cardinality = vocabulary] → total token
    count as a broadcast 1-row aggregate (never a driver collect) →
    term logprobs joined back to the (doc, term) stream on term
    [vocabulary-sized side; broadcastable at most scales, else AQE
    plans it shuffled] → per-doc mean [shuffle 2 on doc]. No
    smoothing needed: every scored token is in the corpus by
    construction.

    Output: (doc, n_tokens, avg_logprob) — lower = rarer/noisier text.
    """
    toks = df.select(F.col(id_col).alias("doc"),
                     F.explode(tokens(text_col)).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    logp = (counts.join(F.broadcast(total))
            .select("term", F.log(F.col("cnt") / F.col("total"))
                    .alias("logp")))
    return (toks.join(logp, "term")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("logp"), 6).alias("avg_logprob")))


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition diagnostics per document:
    top_term_frac (fraction of tokens that are the single most
    frequent token) and distinct_frac (distinct/total tokens). High
    top_term_frac or low distinct_frac flags boilerplate/spam for
    removal before training.

    Plan: explode → (doc, term) counts [one shuffle, map-side
    combined] → per-doc max/sum/count second-level aggregate on the
    already-keyed stream [second shuffle carries one row per (doc,
    term) — bounded by doc vocabulary, not doc length]. Empty docs
    produce no row (nothing to measure).
    """
    toks = df.select(F.col(id_col).alias("doc"),
                     F.explode(tokens(text_col)).alias("term"))
    per_term = toks.groupBy("doc", "term").agg(
        F.count(F.lit(1)).alias("cnt"))
    return (per_term.groupBy("doc")
            .agg(F.sum("cnt").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.round(F.max("cnt") / F.sum("cnt"), 6)
                 .alias("top_term_frac"),
                 F.round(F.count(F.lit(1)) / F.sum("cnt"), 6)
                 .alias("distinct_frac")))


# --- normalization / redaction (cleaning stages before dedup) -----------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d[\d\s().-]{7,}\d"
_URL_RE = r"https?://[^\s]+"


def normalize_text(col: Column | str) -> Column:
    """Canonical form ahead of exact/near dedup: lowercase, collapse
    whitespace runs to single spaces, trim. Pure expression — fuses
    into the scan. (Unicode NFC canonicalization would need a pandas
    UDF; whitespace/case folding catches the bulk of trivial
    near-duplicates first.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def mask_pii(col: Column | str,
             email_token: str = "<EMAIL>",
             phone_token: str = "<PHONE>",
             url_token: str = "<URL>") -> Column:
    """Regex redaction of emails, URLs, then phone-like digit runs
    (order matters: URLs can embed digit runs). Heuristic by design —
    a production pipeline layers an NER pass on top; the Spark-side
    shape (stacked regexp_replace, one codegen stage, no shuffle) is
    identical."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _EMAIL_RE, email_token)
    c = F.regexp_replace(c, _URL_RE, url_token)
    return F.regexp_replace(c, _PHONE_RE, phone_token)


def chunk_tokens(df: DataFrame, text_col: str, id_col: str,
                 chunk_size: int = 128, overlap: int = 32) -> DataFrame:
    """Split documents into overlapping token windows (the standard
    LLM-training prep step). Output: (id, chunk_idx, chunk_text,
    n_tokens). Narrow: tokenize -> sequence of window starts ->
    explode — each row fans out inside its task, no shuffle; at 100 TB
    the output is written partitioned, never collected.

    stride = chunk_size - overlap; the last window may be short but
    is never empty; empty/whitespace-only docs produce zero chunks."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    t = tokens(F.col(text_col))
    n = F.size(t)
    # window starts: 0, stride, 2*stride, ... while start < n
    starts = F.sequence(
        F.lit(0),
        F.when(n > chunk_size,
               ((n - overlap - 1) / stride).cast("int") * stride)
         .otherwise(F.lit(0)),
        F.lit(stride))
    return (df
            .select(F.col(id_col), t.alias("__toks"), n.alias("__n"),
                    starts.alias("__starts"))
            .filter(F.col("__n") > 0)
            .select(id_col, "__toks", "__n",
                    F.posexplode("__starts").alias("chunk_idx", "__start"))
            .select(
                id_col, "chunk_idx",
                F.array_join(
                    F.slice("__toks", F.col("__start") + 1, chunk_size),
                    " ").alias("chunk_text"),
                F.least(F.lit(chunk_size),
                        F.col("__n") - F.col("__start")).alias("n_tokens")))


def zipf_rank_frequency(df: DataFrame, text_col: str,
                        top_n: int = 100) -> DataFrame:
    """Corpus rank-frequency table (Zipf curve input): the ``top_n``
    most frequent tokens with their counts and 1-based rank
    (ties broken alphabetically so the ranking is total and
    engine-independent).

    Plan shape: one vocabulary-keyed count shuffle (map-side
    combined), then the global top-n runs as TakeOrderedAndProject —
    per-partition bounded heaps merged at the driver, never a global
    sort. The final ranking pass sees only ``top_n`` rows — a
    constant-size single partition at any corpus SF, with no window.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(top_n)
    # rank WITHOUT a window: the global limit lands in one partition
    # (<= top_n rows at any SF); after an in-partition sort,
    # monotonically_increasing_id is the 0-based position there.
    return (top.coalesce(1)
            .sortWithinPartitions(F.desc("cnt"), F.asc("term"))
            .withColumn("rank",
                        (F.monotonically_increasing_id() + 1).cast("int")))


def vocab_stats(df: DataFrame, text_col: str) -> DataFrame:
    """One-row corpus vocabulary summary: total token count, distinct
    vocabulary size, hapax count (terms seen exactly once — the
    long-tail mass that dominates open crawls), and the type-token
    ratio. Two-level aggregate: vocabulary-keyed counts (one shuffle,
    map-side combined) collapsing into a single global row — the
    second exchange carries one partial row per task."""
    toks = df.select(F.explode(tokens(text_col)).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.sum("cnt").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("hapax_terms"),
        F.round(F.count(F.lit(1)) / F.sum("cnt"), 6).alias("type_token_ratio"))


def build_vocab(docs: DataFrame, text_col: str = "text",
                size: int = 1000, min_count: int = 1) -> DataFrame:
    """Frequency-ranked vocabulary: the top-``size`` terms by corpus
    count (ties by term, so ids are fully deterministic), ids start
    at 1 (0 is reserved for OOV). One (term) count shuffle — the
    distinct-term space, not the corpus — then a constant-size
    ranked head."""
    tf = (docs.select(F.explode(tokens(text_col)).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("n"))
          .filter(F.col("n") >= min_count))
    # top-`size` cut FIRST via TakeOrderedAndProject (per-partition
    # bounded heaps merged at the driver — same pattern as
    # zipf_rank_frequency), so the id-assigning window only ever sees
    # <= size rows: its single-partition stage is bounded by the vocab
    # size, not the corpus vocabulary (which at web scale is tens of
    # millions of terms — ranking that through one task was the old,
    # correct-but-single-reducer plan).
    top = tf.orderBy(F.desc("n"), F.asc("term")).limit(size)
    # rank WITHOUT a window: the global limit already lands in one
    # partition (<= size rows — bounded whatever the corpus SF), so
    # after an in-partition sort, monotonically_increasing_id IS the
    # 0-based position (single partition → its low-bits counter).
    return (top.coalesce(1)
            .sortWithinPartitions(F.desc("n"), F.asc("term"))
            .withColumn("token_id",
                        (F.monotonically_increasing_id() + 1).cast("int"))
            .select("term", "token_id", "n"))


def encode_tokens(docs: DataFrame, vocab: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  oov_id: int = 0) -> DataFrame:
    """Encode each document's token sequence to vocabulary ids (OOV →
    ``oov_id``), order-preserving — the id-ification step before
    sequence packing/sharding.

    Plan: the vocab (≤ vocab-size rows) collapses to ONE map literal
    broadcast inside the expression, so encoding is a NARROW pass —
    no explode, no join, no shuffle; at 100 TB the cost is the scan.
    (For vocabularies beyond broadcast size, switch to the explode +
    join + re-aggregate shape keyed by (doc, pos).)"""
    entries = vocab.select(
        F.map_from_entries(F.collect_list(
            F.struct("term", "token_id"))).alias("m"))
    return (docs.crossJoin(F.broadcast(entries))
            .select(F.col(id_col),
                    F.transform(
                        tokens(text_col),
                        lambda t: F.coalesce(F.element_at("m", t),
                                             F.lit(oov_id)))
                    .alias("token_ids"))
            )


def readability_scores(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       round_dp: int = 6) -> DataFrame:
    """Flesch reading-ease per document from pure-regex counts —
    words (whitespace tokens), sentences (runs of .!? — floored at
    1), syllables (vowel-group runs per word, floored at 1/word via a
    no-vowel-word correction) — the classic text-quality feature a
    corpus filter thresholds on. Expression-only narrow pass (no
    Python, no shuffle); every count is an exact integer and the
    Flesch formula's two divisions happen last, so any engine
    replays it."""
    t = F.lower(F.col(text_col))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    words = F.size(toks)
    sentences = F.greatest(F.lit(1),
                           F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")))
    vowel_groups = F.regexp_count(t, F.lit(r"[aeiouy]+"))
    no_vowel_words = F.size(F.filter(toks, lambda x:
                                     ~x.rlike("[aeiouy]")))
    syllables = vowel_groups + no_vowel_words
    flesch = (F.lit(206.835)
              - F.lit(1.015) * words.cast("double")
              / sentences.cast("double")
              - F.lit(84.6) * syllables.cast("double")
              / words.cast("double"))
    return (docs.filter(words > 0)
            .select(F.col(id_col), words.alias("n_words"),
                    sentences.alias("n_sentences"),
                    syllables.alias("n_syllables"),
                    F.round(flesch, round_dp).alias("flesch")))


def bigram_lm_score(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", vocab_size: int = 200,
                    alpha: float = 1.0, lam: float = 0.75,
                    round_dp: int = 6) -> DataFrame:
    """Interpolated bigram language-model score per document —
    unigram_lm_score's stronger sibling: mean ln(λ·P(w₂|w₁) +
    (1−λ)·P(w₂)) over the doc's bigrams, with add-α smoothing over a
    bounded top-V vocabulary and out-of-vocab tokens mapped to an
    <unk> class. Low scores flag boilerplate/garbled text that
    unigram stats miss (wrong word ORDER, not wrong words).

    Determinism/scale: vocab is a TakeOrdered head (bounded);
    per-bigram log terms are integerized on a 1e-6 grid so each
    doc's score is an exact BIGINT sum ÷ count; the bigram count
    frame is keyed by (w₁,w₂) observed pairs (≤ corpus bigrams, hit
    by an equi-join — never broadcast when large); the unigram model
    (V+1 rows) broadcasts. Two keyed shuffles over token frames +
    one per-doc aggregate."""
    toks_arr = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                        lambda x: x != "")
    base = docs.select(F.col(id_col).alias("doc"),
                       toks_arr.alias("ts")).filter(F.size("ts") >= 2)
    uni = (base.select(F.explode("ts").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("n")))
    vocab = (uni.orderBy(F.desc("n"), F.asc("t")).limit(vocab_size)
             .select("t", "n"))
    # map every token through the bounded vocab (broadcast): OOV → <unk>
    mapped = (base.select(
        "doc",
        F.posexplode("ts").alias("i", "t"))
        .join(F.broadcast(vocab.select(F.col("t").alias("__vt"))),
              F.col("t") == F.col("__vt"), "left")
        .select("doc", "i",
                F.when(F.col("__vt").isNotNull(), F.col("t"))
                .otherwise(F.lit("<unk>")).alias("w")))
    # per-doc consecutive pairs via a doc-partitioned window (doc
    # sequences are bounded by doc length — the sessionizer bound)
    from pyspark.sql.window import Window
    wd = Window.partitionBy("doc").orderBy("i")
    pairs = (mapped.withColumn("w2", F.lead("w").over(wd))
             .filter(F.col("w2").isNotNull())
             .select("doc", F.col("w").alias("w1"), "w2"))
    big = pairs.groupBy(F.col("w1").alias("b1"), F.col("w2").alias("b2")) \
        .agg(F.count(F.lit(1)).alias("c12"))
    # unigram model over the mapped classes (vocab + <unk>)
    cls = (mapped.groupBy(F.col("w").alias("u"))
           .agg(F.count(F.lit(1)).alias("cu")))
    tot = cls.agg(F.sum("cu").alias("T"))
    v1 = vocab_size + 1
    p_uni = ((F.col("cu") + F.lit(alpha))
             / (F.col("T") + F.lit(alpha * v1)))
    uni_model = (cls.crossJoin(F.broadcast(tot))
                 .select("u", F.col("cu").alias("c1"),
                         p_uni.alias("pu")))
    scored = (pairs
              .join(big, (F.col("w1") == F.col("b1"))
                    & (F.col("w2") == F.col("b2")), "left")
              .join(F.broadcast(uni_model.select(
                  F.col("u").alias("__u1"), F.col("c1"))),
                  F.col("w1") == F.col("__u1"))
              .join(F.broadcast(uni_model.select(
                  F.col("u").alias("__u2"), F.col("pu"))),
                  F.col("w2") == F.col("__u2")))
    p_bi = ((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
            / (F.col("c1") + F.lit(alpha * v1)))
    term = F.round(F.log(F.lit(lam) * p_bi
                         + F.lit(1.0 - lam) * F.col("pu"))
                   * 1_000_000, 0).cast("long")
    return (scored.groupBy(F.col("doc").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(term).cast("double")
                         / (F.count(F.lit(1)) * 1_000_000.0), round_dp)
                 .alias("avg_logprob")))


def pmi_collocations(df: DataFrame, text_col: str = "text",
                     min_count: int = 5, top: int = 20,
                     round_dp: int = 6) -> DataFrame:
    """Top PMI collocations: adjacent token pairs whose co-occurrence
    beats chance — pointwise mutual information
    ln(P(xy) / (P(x)·P(y))) over bigram and unigram frequencies, the
    classic phrase detector (word2vec-phrases, Hanks/Church) run
    before vocabulary building so 'new york' becomes one token.

    All frequencies are exact integer counts (one unigram and one
    bigram keyed count — two data shuffles, map-side combined); the
    single ln per surviving pair happens on the bounded
    ``min_count``-filtered frame, and the head is a
    TakeOrderedAndProject on (pmi desc, pair). Bigrams pair in-row
    (arrays_zip of two slices — narrow, no self-join)."""
    ts = tokens(text_col)
    base = df.select(ts.alias("ts")).filter(F.size("ts") >= 2)
    bi = base.select(F.explode(F.arrays_zip(
        F.slice(F.col("ts"), 1, F.size("ts") - 1).alias("w1"),
        F.slice(F.col("ts"), 2, F.size("ts") - 1).alias("w2"))).alias("b"))
    bic = (bi.groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
           .agg(F.count(F.lit(1)).alias("nxy"))
           .filter(F.col("nxy") >= min_count))
    uni = (df.select(F.explode(ts).alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("n")))
    tot = uni.agg(F.sum("n").alias("nu"))
    # bigram total counts EVERY adjacent pair (pre-min_count): P(xy)
    # must normalize by the full bigram mass, not the surviving head
    nb = base.agg(F.sum(F.size("ts") - 1).alias("nb"))
    # unigram-count joins are keyed equi-joins; Catalyst broadcasts
    # them when the vocabulary is small and shuffles when it isn't
    j = (bic.join(uni.select(F.col("t").alias("w1"),
                             F.col("n").alias("nx")), "w1")
         .join(uni.select(F.col("t").alias("w2"),
                          F.col("n").alias("ny")), "w2")
         .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nb)))
    pmi = F.log(F.col("nxy").cast("double") * F.col("nu") * F.col("nu")
                / (F.col("nb").cast("double") * F.col("nx")
                   * F.col("ny")))
    return (j.select("w1", "w2", "nxy",
                     F.round(pmi, round_dp).alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2").limit(top))


def mine_repeated_ngrams(docs: DataFrame, text_col: str = "text",
                         n: int = 3, min_docs: int = 2,
                         top: int = 50,
                         id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide duplicated-n-gram mining: the most repeated token
    n-grams with total occurrence count and document frequency — the
    contamination / boilerplate census that drives span-dedup
    thresholds (cf. dedup.span_dedup) and template detection.

    Plan: in-row n-gram fan-out (transform over a sequence of start
    offsets — narrow, no Python), then TWO keyed mergeable
    aggregates — (ngram, doc) counts, then per-ngram totals — instead
    of countDistinct's expand (each stage keeps map-side partial
    aggregation at 100 TB), and a TakeOrderedAndProject head. The
    gram key space is bounded by the corpus, shuffles carry
    (gram, counts) only, never text."""
    ts = tokens(text_col)
    grams = (docs
             .select(F.col(id_col).alias("doc"), ts.alias("ts"))
             .filter(F.size("ts") >= n)
             .select("doc", F.explode(
                 F.transform(
                     F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                     lambda i: F.concat_ws(" ", F.slice(F.col("ts"), i, n))
                 )).alias("ngram")))
    per_doc = grams.groupBy("ngram", "doc").agg(
        F.count(F.lit(1)).alias("c"))
    return (per_doc.groupBy("ngram")
            .agg(F.sum("c").alias("total"),
                 F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .orderBy(F.desc("total"), F.asc("ngram"))
            .limit(top))


def oov_rate_by_group(docs: DataFrame, group_col: str = "lang",
                      text_col: str = "text",
                      vocab_size: int = 1000) -> DataFrame:
    """Out-of-vocabulary rate per corpus slice: share of token
    occurrences not covered by the corpus-wide top-``vocab_size``
    vocabulary — the coverage diagnostic that decides tokenizer vocab
    size and flags under-served languages/sources before training.

    Plan: one (term) count shuffle builds the vocab head
    (TakeOrderedAndProject, bounded — the build_vocab pattern), which
    then BROADCASTS into a left-join over the token stream; per-group
    totals are one keyed aggregate. oov_ppm is a single fixed-shape
    floor division."""
    tf = (docs.select(F.explode(tokens(text_col)).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("n")))
    vocab = (tf.orderBy(F.desc("n"), F.asc("term")).limit(vocab_size)
             .select("term", F.lit(1).alias("__in")))
    toks = docs.select(F.col(group_col).alias("grp"),
                       F.explode(tokens(text_col)).alias("term"))
    joined = toks.join(F.broadcast(vocab), "term", "left")
    return (joined.groupBy(F.col("grp").alias(group_col))
            .agg(F.count(F.lit(1)).alias("total_tokens"),
                 F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                 .alias("oov_tokens"))
            .withColumn("oov_ppm",
                        F.floor(F.lit(1000000.0) * F.col("oov_tokens")
                                / F.col("total_tokens")).cast("long")))
