"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-frugal by construction:

1. exact_dedup        — hash-groupBy on a content digest: the exchange
                        carries a 32-byte hash + id, never the payload.
2. ngram_jaccard      — exact near-dup on word-shingle Jaccard;
                        candidate pairs come from an inverted-index
                        self-join (only docs sharing a shingle meet).
3. minhash_lsh        — MinHash signatures + banded LSH: candidate
                        generation cost is O(docs x bands), immune to
                        the quadratic blowup of pairwise comparison.
4. simhash            — 64-bit sign-random-projection fingerprint;
                        near-dups differ in few bits.

Scale notes: at 100 TB the only viable near-dup strategies are the
bucketed ones (3, 4) — candidate generation must be linear. The
Jaccard verifier (2) then runs only on candidate pairs. Frequent
shingles create hot buckets: ``max_bucket`` caps them (standard
practice — a shingle shared by millions of docs carries no signal).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from vega_spark.functions.text import tokens

# deterministic MinHash parameters (Carter-Wegman style). The prime is
# 2^31-1 so a*x + b stays < 2^62 — no 64-bit overflow JVM-side.
_MERSENNE = (1 << 31) - 1


def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs for h_i(x) = (a*x + b) mod 2^31-1, seeded PRNG
    (python's Mersenne Twister — deterministic across runs)."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
            for _ in range(k)]


def content_digest(col: Column | str) -> Column:
    """256-bit content hash — what travels through the dedup shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id representative per distinct
    content. groupBy(sha2) — the shuffle carries (digest, id) only."""
    return (
        df.select(content_digest(text_col).alias("__digest"), F.col(id_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__digest")
    )


def incremental_new_docs(corpus: DataFrame, batch: DataFrame,
                         text_col: str, id_col: str) -> DataFrame:
    """Incremental corpus ingestion dedup: the rows of ``batch`` whose
    content is NOT already in ``corpus``, internally deduplicated
    (lowest id wins within the batch). The append-only pattern of a
    continuously-crawled training corpus: the historical corpus is
    never rescanned per pair, only its digest set is.

    Plan: both sides project to (digest[, id]) — the comparison
    exchange carries 32-byte hashes, never document payloads. The
    in-batch keep-first is a digest-keyed min-id aggregate + self
    semi-join; the corpus check is a LEFT ANTI join on digest. With a
    digest-only right side Catalyst broadcasts it when small; at
    100 TB corpus scale AQE plans a shuffled anti-join whose right
    exchange is ~40 bytes/doc, and Spark's runtime bloom-filter
    injection (spark.sql.optimizer.runtime.bloomFilter.enabled)
    prunes the probe side at the scan."""
    d = "__digest"
    corpus_digests = (corpus.select(content_digest(text_col).alias(d))
                      .distinct())
    keyed = batch.withColumn(d, content_digest(text_col))
    first_ids = (keyed.groupBy(d)
                 .agg(F.min(id_col).alias(id_col)))
    return (keyed.join(first_ids, [d, id_col], "left_semi")
            .join(corpus_digests, d, "left_anti")
            .drop(d))


def span_dedup(df: DataFrame, text_col: str, id_col: str,
               span_tokens: int = 32) -> DataFrame:
    """C4-style duplicate-passage removal: split each document into
    consecutive ``span_tokens``-token spans, keep only the globally
    FIRST occurrence of each distinct span (ordered by (id, position)),
    and reassemble documents from their surviving spans. Documents
    whose every span is a repeat disappear; boilerplate passages
    survive exactly once, in the earliest document that carries them.

    Plan shape: tokenize + span-split are narrow (fan-out inside the
    scan task). Keep-first is a sha2(span)-keyed min-(doc,pos)
    aggregate (map-side combined; the grouping exchange carries the
    digest + two ints) followed by an equi-join back on the digest to
    recover surviving span text — only that join's probe side carries
    text, one pass. Reassembly is one shuffle on doc id; collect_list
    + array_sort keeps span order without a sort exchange. At corpus
    scale the digest aggregate is the only wide stage whose
    cardinality is the number of distinct spans; skew is impossible
    (digests are uniform).
    """
    k = span_tokens
    starts = F.sequence(
        F.lit(0),
        ((F.size("__toks") - 1) / k).cast("int") * k,
        F.lit(k))
    spans = (df
             .select(F.col(id_col).alias("__doc"),
                     tokens(F.col(text_col)).alias("__toks"))
             .filter(F.size("__toks") > 0)
             .select("__doc",
                     F.posexplode(starts).alias("__pos", "__start"),
                     "__toks")
             .select("__doc", "__pos",
                     F.array_join(F.slice("__toks", F.col("__start") + 1, k),
                                  " ").alias("__span")))
    keyed = spans.withColumn("__d", F.sha2(F.col("__span"), 256))
    firsts = (keyed.groupBy("__d")
              .agg(F.min(F.struct("__doc", "__pos")).alias("__first")))
    kept = (keyed.join(firsts, "__d")
            .filter((F.col("__doc") == F.col("__first.__doc"))
                    & (F.col("__pos") == F.col("__first.__pos"))))
    return (kept.groupBy("__doc")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("__pos", "__span"))),
                    lambda s: s["__span"]),
                " ").alias(text_col))
            .withColumnRenamed("__doc", id_col))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (distinct). Column-expression form — keep
    for Column-level composition; the interpreted HOF chain
    (sequence/slice/concat_ws/array_distinct per doc) costs ~3s at
    sf0.1 where the Arrow-batched _word_shingles_udf is ~0.14s, so
    the DataFrame-level entry points default to the UDF."""
    toks = tokens(col)
    return F.array_distinct(F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )).otherwise(F.array(F.concat_ws(" ", toks))))


def _word_shingles_udf(n: int):
    """Arrow-batched word-shingle generator, semantics IDENTICAL to
    word_shingles (unit-pinned in test_text_dedup): lowercase,
    whitespace-split with empties dropped, n-gram join by single
    space, per-doc distinct preserving first occurrence, <n tokens
    (incl. null/empty text) collapse to the whole-doc join — null
    text yields [""] exactly like concat_ws over a null array.
    Rebuilt per call (the pandas_udf handle binds to the active
    session; creation is ms next to execution — see
    _simhash_pack_udf)."""

    @F.pandas_udf("array<string>")
    def shingles(texts: pd.Series) -> pd.Series:
        import re
        # re.ASCII: Python's \s is Unicode-aware ([\xa0], ideographic
        # spaces, ...) while Java's \s — what F.split in tokens()
        # compiles to — is ASCII-only [ \t\n\x0B\f\r]. The flag
        # restricts Python to the SAME class, so a corpus carrying
        # NBSP or CJK spaces tokenizes identically under impl='pandas'
        # and impl='expr'.
        ws = re.compile(r"\s+", re.ASCII)
        out = []
        for t in texts:
            toks = [w for w in ws.split(t.lower()) if w] \
                if t is not None else []
            if len(toks) >= n:
                out.append(list(dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1))))
            else:
                out.append([" ".join(toks)])
        return pd.Series(out)

    return shingles


def shingle_index(df: DataFrame, text_col: str, id_col: str, n: int = 3,
                  max_doc_freq: int | None = None,
                  impl: str = "pandas") -> DataFrame:
    """Inverted index: (shingle, doc id), distinct. ``max_doc_freq``
    drops stop-shingles (hot keys) — the skew guard at scale: a
    shingle held by more than ``max_doc_freq`` index rows is removed
    (rows with a null doc id count, as in the oracle's ``hot`` CTE).

    The index's exchange is the plan's SHARED MATERIALIZATION POINT:
    every consumer (per-doc sizes, both self-join sides) re-reads it
    via ReuseExchange instead of recomputing the shingle generation —
    shuffle files spill to disk, so unlike a localCheckpoint nothing
    is pinned in executor storage (measured: removing the distinct
    made the full pairs query 70% SLOWER from 4x shingle
    recomputation). Reuse needs every consumer's copy of the sub-plan
    to be canonically equal, but Catalyst infers ``isnotnull`` filters
    from each consumer's join keys and pushes them down, differently
    per consumer. Two choices keep the copies equal:

    - The explicit ``shingle IS NOT NULL`` filter (a no-op: neither
      generator emits a null) makes the self-join sides' inferred
      ``isnotnull(shingle)`` redundant, so Catalyst adds none below
      the distinct.
    - The hot-key guard is a ``count(1) OVER (PARTITION BY shingle)``
      window on the same sub-tree, not a groupBy count plus anti join
      (a fourth consumer with filters of its own). The consumers'
      inferred ``isnotnull(doc)`` stays above the window (Spark
      pushes no filter on a non-partition column through one), so
      everything below it is shared. The price is that a hot
      shingle's (doc, shingle) rows meet in one window partition
      instead of a map-side partial count; the window buffer spills,
      so this costs sort time, not memory.

    So the shingle UDF and the distinct run once per action.

    impl='pandas' (default) batches shingle generation through
    _word_shingles_udf (7.2s -> 2.0s on the full pairs query at
    sf0.1); impl='expr' keeps the pure Column form."""
    sh = (word_shingles(text_col, n) if impl == "expr"
          else _word_shingles_udf(n)(text_col))
    idx = (df.select(F.col(id_col).alias("doc"),
                     F.explode(sh).alias("shingle"))
           .filter(F.col("shingle").isNotNull())
           .distinct())
    if max_doc_freq:
        idx = (idx
               .withColumn("__df", F.count(F.lit(1)).over(
                   Window.partitionBy("shingle")))
               .filter(F.col("__df") <= max_doc_freq)
               .drop("__df"))
    return idx


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_doc_freq: int | None = None,
                        impl: str = "pandas") -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= threshold).

    Plan shape: inverted-index self-join on shingle (equi-join → only
    docs sharing a shingle are compared), count common shingles,
    join per-doc sizes, jaccard = common / (|A| + |B| - common).
    Candidate count is bounded by the index join, not |docs|^2.
    ``impl`` selects the shingle generator (see shingle_index)."""
    idx = shingle_index(df, text_col, id_col, n, max_doc_freq, impl=impl)
    sizes = idx.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = idx.select(F.col("shingle"), F.col("doc").alias("doc_a"))
    b = idx.select(F.col("shingle"), F.col("doc").alias("doc_b"))
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common
        .join(sizes.withColumnRenamed("doc", "doc_a")
                    .withColumnRenamed("n_shingles", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b")
                    .withColumnRenamed("n_shingles", "size_b"), "doc_b")
        .withColumn("jaccard", F.col("common") /
                    (F.col("size_a") + F.col("size_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 64, shingle_n: int = 3,
                       seed: int = 42) -> DataFrame:
    """MinHash signature per document: lane_i = min over shingles of
    (a_i * x + b_i) mod 2^31-1, x an arithmetic shingle hash.

    NARROW (zero shuffles — signatures stream out of the scan stage;
    an explode+groupBy formulation would push |docs|x|shingles| rows
    through an exchange) and Arrow-batched numpy: token hashes via
    crc32, lane matrix (k x shingles) minimized vectorized. A pure
    Column form would run the k hash lanes interpreted
    (higher-order functions don't enter whole-stage codegen) and pay
    seconds of planning/JIT for the 64-way expression tree."""
    params = _hash_params(num_hashes, seed)
    a_vec = [a for a, _ in params]
    b_vec = [b for _, b in params]

    def compute(batches):
        import numpy as np
        import pandas as pd
        from zlib import crc32

        A = np.array(a_vec, dtype=np.int64)[:, None]
        B = np.array(b_vec, dtype=np.int64)[:, None]
        for pdf in batches:
            docs_out, sigs_out = [], []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.lower().split()
                th = np.array([crc32(t.encode()) for t in toks] or [0],
                              dtype=np.int64) % _MERSENNE
                if len(th) >= shingle_n:
                    x = th[: len(th) - shingle_n + 1].copy()
                    for i in range(1, shingle_n):
                        x = (x * 8191 + th[i: len(th) - shingle_n + 1 + i]) % _MERSENNE
                else:
                    acc = np.int64(0)
                    for v in th:
                        acc = (acc * 8191 + v) % _MERSENNE
                    x = np.array([acc], dtype=np.int64)
                sigs_out.append(((A * x + B) % _MERSENNE).min(axis=1))
                docs_out.append(doc)
            yield pd.DataFrame({"doc": docs_out, "signature": sigs_out})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        compute, schema="doc long, signature array<long>")


def _banded_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Banded projection of MinHash signatures: (doc, band, bucket)
    rows, bucket = xxhash64 over the band's signature lanes. One
    narrow explode — |docs| x bands rows, never |docs|²."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(*[F.col("signature")[bi * rows_per_band + r]
                             for r in range(rows_per_band)]).alias("bucket"),
            ) for bi in range(bands)
        ])).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def lsh_index(corpus: DataFrame, text_col: str, id_col: str,
              num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
              seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Persistable near-dup index over a corpus: the pair of tables a
    continuous-ingest pipeline maintains so NEW batches never rescan
    historical text —

    - signatures: (doc, signature array<long>) — one row per doc,
      num_hashes longs (~0.5 KB/doc at k=64), the verification side.
    - buckets: (band, bucket, doc, n_in_bucket) — the banded LSH
      projection (bands rows/doc), the candidate-generation side.
      ``n_in_bucket`` is precomputed so lookups can skip degenerate
      hot buckets (boilerplate text) without re-counting.

    Both are plain DataFrames: write them with save_as_parquet
    (bucketed by (band, bucket) for exchange-free lookups at scale)
    and append per ingest batch. Index size is O(docs x bands) rows
    of fixed-width keys — payloads never enter it."""
    assert num_hashes % bands == 0
    sig = minhash_signatures(corpus, text_col, id_col, num_hashes,
                             shingle_n, seed)
    banded = _banded_buckets(sig, num_hashes, bands)
    sizes = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_in_bucket"))
    return sig, banded.join(sizes, ["band", "bucket"])


def near_dup_against_index(batch: DataFrame, signatures: DataFrame,
                           buckets: DataFrame, text_col: str, id_col: str,
                           num_hashes: int = 64, bands: int = 16,
                           shingle_n: int = 3, seed: int = 42,
                           threshold: float = 0.5,
                           max_bucket: int = 1000) -> DataFrame:
    """Incremental near-dup: flag rows of ``batch`` whose MinHash
    signature agrees with some already-indexed document on
    ≥ ``threshold`` of lanes (lane-agreement is an unbiased Jaccard
    estimate). The continuous-crawl shape at 100 TB: per batch the
    work is |batch| signature computations + ONE equi-join on
    (band, bucket) against the index + a signature-verify join on the
    candidate set — the corpus text is never touched.

    Hot-bucket guard: index buckets with > ``max_bucket`` members
    (boilerplate-dominated) are skipped at lookup via the
    precomputed n_in_bucket — same stop-shingle semantics as
    ngram_jaccard_pairs' max_doc_freq.

    Returns one row per batch doc: (doc, is_near_dup, matched_doc —
    the best-agreeing indexed doc or NULL, matched_lanes,
    est_jaccard). Ties break to the smallest matched_doc
    (deterministic). Same seed/params as the index build are
    REQUIRED (signatures must come from the same hash family)."""
    assert num_hashes % bands == 0
    sigb = minhash_signatures(batch, text_col, id_col, num_hashes,
                              shingle_n, seed)
    bb = _banded_buckets(sigb, num_hashes, bands)
    cands = (bb.join(buckets.filter(F.col("n_in_bucket") <= max_bucket)
                     .select("band", "bucket",
                             F.col("doc").alias("corpus_doc")),
                     ["band", "bucket"])
             .select("doc", "corpus_doc").distinct())
    verified = (cands
                .join(signatures.select(F.col("doc").alias("corpus_doc"),
                                        F.col("signature").alias("__cs")),
                      "corpus_doc")
                .join(sigb.select("doc", F.col("signature").alias("__bs")),
                      "doc")
                .select(
                    "doc", "corpus_doc",
                    F.aggregate(
                        F.zip_with("__bs", "__cs",
                                   lambda x, y: (x == y).cast("int")),
                        F.lit(0),
                        lambda acc, v: acc + v).alias("matched_lanes")))
    best = (verified
            .groupBy("doc")
            .agg(F.max(F.struct(F.col("matched_lanes"),
                                (-F.col("corpus_doc")).alias("__neg")))
                 .alias("__b"))
            .select("doc",
                    F.col("__b.matched_lanes").alias("matched_lanes"),
                    (-F.col("__b.__neg")).alias("matched_doc")))
    need = int(math.ceil(threshold * num_hashes))
    return (sigb.select("doc")
            .join(best, "doc", "left")
            .select(
                "doc",
                F.coalesce(F.col("matched_lanes") >= need,
                           F.lit(False)).alias("is_near_dup"),
                F.when(F.col("matched_lanes") >= need,
                       F.col("matched_doc")).alias("matched_doc"),
                F.coalesce("matched_lanes", F.lit(0)).alias("matched_lanes"),
                F.round(F.coalesce("matched_lanes", F.lit(0))
                        / float(num_hashes), 4).alias("est_jaccard")))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3, seed: int = 42,
                      max_bucket: int | None = 1000) -> DataFrame:
    """Banded LSH over MinHash signatures → candidate pairs (a < b).

    bands x rows = num_hashes; a pair lands in a bucket iff one band
    of the signatures matches exactly. Candidate generation is one
    explode (doc → bands) + one groupBy — linear in docs. ``max_bucket``
    truncates pathological buckets (hot-key guard); it trades recall
    for skew safety, so pass None when a contract needs EVERY true
    collision (e.g. a 100%-recall pin on a bounded corpus)."""
    assert num_hashes % bands == 0
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                             seed)
    banded = _banded_buckets(sig, num_hashes, bands)
    docs_agg = F.sort_array(F.collect_list("doc"))
    if max_bucket is not None:
        docs_agg = F.slice(docs_agg, 1, max_bucket)
    grouped = (banded.groupBy("band", "bucket")
               .agg(docs_agg.alias("docs"))
               .filter(F.size("docs") > 1))
    pairs = grouped.select(
        F.explode(F.expr(
            "flatten(transform(docs, (a, i) -> "
            "transform(slice(docs, i + 2, size(docs) - i - 1), b -> struct(a, b))))"
        )).alias("p"))
    return pairs.select(F.col("p.a").alias("doc_a"),
                        F.col("p.b").alias("doc_b")).distinct()


def _simhash_pack_udf():
    """Vectorized SimHash bit-voting: token xxhash64 array -> packed
    64-bit fingerprint. One numpy pass per row replaces 64 interpreted
    F.aggregate lambdas over the hash array (~tokens x 64 lambda
    evaluations per document — measured as the dominant cost of the
    simhash family at sf0.1). Semantics identical to the expression
    form it replaced: bit b set iff strictly more token hashes have
    bit b set than unset; ties and empty token arrays -> 0; uint64
    packing viewed as int64 reproduces the Long.MIN_VALUE mask for
    bit 63. Rebuilt per call rather than cached at module scope: the
    pandas_udf handle binds to the active SparkSession, so a cached
    object would go stale across session restarts (r4 ADVICE);
    creation is a few ms next to execution."""

    @F.pandas_udf("long")
    def _pack(hs: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        out = np.zeros(len(hs), dtype=np.uint64)
        for i, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue
            H = np.asarray(h, dtype=np.int64).astype(np.uint64)
            bits = ((H[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            out[i] = ((votes > 0).astype(np.uint64) * weights).sum(
                dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return _pack


def simhash(col: Column | str, text_col_tokens: Column | None = None) -> Column:
    """64-bit SimHash: per-token xxhash64 (JVM-side — the hash must
    match Spark's), each bit votes +1/-1, the sign of each bit-sum
    forms the fingerprint. The voting/packing runs as one Arrow batch
    per partition (_simhash_pack)."""
    toks = text_col_tokens if text_col_tokens is not None else tokens(col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_pack_udf()(hashes)


def simhash_fingerprints(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """``(doc, fp)`` SimHash fingerprint frame — the linear UDF pass
    (tokenize + hash + bit-vote every document) that dominates the
    simhash family's wall time. Exposed so a caller running SEVERAL
    blocking passes over the same corpus (e.g. the registry contract
    that proves collapsed components equal the exhaustive form's)
    computes it ONCE, materializes it (``localCheckpoint``), and
    feeds both passes via ``simhash_near_pairs(fingerprints=...)``
    instead of paying the UDF per pass."""
    return df.select(F.col(id_col).alias("doc"),
                     simhash(text_col).alias("fp"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3,
                       max_bucket: int | None = None,
                       collapse_identical: bool = False,
                       band_bucket: int | None = None,
                       fingerprints: DataFrame | None = None) -> DataFrame:
    """SimHash near-dup candidates: combinatorial block keys (Manku
    et al., WWW'07) — ``max_hamming + 3`` fingerprint blocks, one
    table per ``(B - max_hamming)``-block combination, so by
    pigeonhole a pair within the hamming budget shares at least one
    ~32-bit table key — then verify the true hamming distance on
    candidates only. Linear candidate generation with chance
    collisions suppressed to n^2/2^33 (see the inline note).

    ``max_bucket`` caps hot (chunk, key) buckets the way
    minhash_lsh_pairs' cap does: each bucket keeps only its first
    ``max_bucket`` docs (ordered by id) before the pair self-join.
    SimHash chunk keys are only ~16 bits wide and natural-language
    bit distributions are far from uniform, so on boilerplate-heavy
    corpora buckets grow super-linearly with corpus size (measured:
    16x wall at 10x data uncapped, r4 scale smoke) — the cap restores
    linear candidate generation. It trades recall for skew safety
    (a pair can lose its pigeonhole chunk to truncation). The
    LIBRARY default is ``None`` (exhaustive — a library call must
    not silently drop candidates); production entry points opt in
    explicitly (the registry ships ``max_bucket=1000``). Set it on
    any unbounded corpus.

    ``collapse_identical`` (r9, VERDICT r8 #5 — the exact-dedup
    pre-pass the scale notes prescribed): group docs by EQUAL
    fingerprint first, run Manku blocking on one representative
    (min id) per distinct fingerprint, and emit (a) the rep-level
    near pairs plus (b) a hamming-0 STAR (rep, member) edge per
    collapsed member. The output is then a SPANNING SUBSET of the
    exhaustive pair set whose connected components are EXACTLY the
    exhaustive (uncapped) form's: hamming(m, x) == hamming(rep, x)
    for every member m of rep's group (equal fps), so rep-level
    pairs represent every member pair, and the stars splice members
    back into their rep's component. Identical-fingerprint
    boilerplate cliques — the residual hot buckets the 1000x smoke
    measured — cost C(g, 2) bucket pairs exhaustively but only
    g - 1 star edges collapsed, and every blocking table shrinks to
    one posting per DISTINCT fingerprint. Pair-count consumers need
    the exhaustive form; dedup/clustering consumers (connected
    components, keep-representatives) should prefer this.

    ``band_bucket`` (r9): per-bucket pair budget ∝ n via md5
    sub-buckets — the scale path when the candidate stream, not the
    cap, is the cost. Measured decomposition at the 1000x smoke
    (corpus v4, 5M docs): 99% of fps DISTINCT (collapse moot), the
    cap binding on only 262 of 45M buckets, chance collisions ~3k
    pairs — yet 1.57e9 candidates for 8.3M survivors (0.5%), all
    from mid-size (10-999 doc) NEAR-fp buckets that a low-entropy
    token distribution breeds. The budget bounds exactly that band
    while every doc keeps a uniform per-bucket survival chance (vs
    max_bucket's hard truncation of docs K+1..). Inactive
    (bit-identical output) when no bucket exceeds it. Default None
    (exact); opt in on low-fp-entropy corpora.

    ``fingerprints`` (r9): a precomputed ``(doc, fp)`` frame (from
    ``simhash_fingerprints``), used INSTEAD of computing the simhash
    UDF over ``df`` — ``df``/``text_col``/``id_col`` are then
    ignored. For callers that run multiple blocking passes over one
    corpus (the registry's collapsed-vs-exhaustive equality proof
    runs two), this halves the dominant linear UDF term. The caller
    owns materialization: pass a checkpointed/cached frame, since
    the internal single-consumer checkpoints are skipped."""
    # Combinatorial block keys (Manku, Jain & Sarma, "Detecting
    # Near-Duplicates for Web Crawling", WWW'07 §3): split the 64-bit
    # fingerprint into B = max_hamming + 3 blocks and key each table
    # on a (B - max_hamming)-block COMBINATION. Pigeonhole: h bit
    # flips damage at most h blocks, so at least B - h blocks agree
    # and the pair shares at least one combination key. Versus the
    # r6 form (h+1 chunks of 64/(h+1) bits), the key widens from ~16
    # to ~32 bits, which kills the CHANCE-collision quadratic: at
    # fixed 16-bit keys, random-pair bucket collisions grow as
    # n^2/2^16 (the measured post-saturation slope — 96s op leg at
    # the 300x smoke); at ~32-bit combination keys the same term is
    # n^2/2^33, negligible through the petabyte decade, at the cost
    # of C(B, h) tables (20 for h=3) instead of h+1. Output is
    # IDENTICAL: both schemes' candidate sets contain every
    # within-budget pair (pigeonhole) and the hamming filter keeps
    # exactly those, so the final pair set is the same.
    if not 0 <= max_hamming <= 15:
        # r9 (ADVICE): the pigeonhole guarantee holds for any
        # h <= B - 1 = 15 with B clamped at 16 blocks (combination
        # keys of 2 or 1 blocks for h = 14/15). Only h >= 16 truly
        # degenerates: B - h <= 0 leaves a zero-width combination —
        # one empty key, i.e. a full cross join. Fail loudly there;
        # 14/15 are legal (if expensive: 1-2 block keys are only
        # 4-8 bits wide, so chance collisions grow as n^2/2^5..2^9 —
        # callers on large corpora should pair them with max_bucket).
        raise ValueError(
            f"max_hamming must be in [0, 15], got {max_hamming}: "
            "at >= 16 the combination keys are zero-width (B - h "
            "<= 0 with B = 16 blocks) and the candidate join "
            "degenerates to a full cross join")
    n_blocks = min(max_hamming + 3, 16)
    bounds = [round(i * 64 / n_blocks) for i in range(n_blocks + 1)]
    widths = [bounds[i + 1] - bounds[i] for i in range(n_blocks)]
    block = [F.shiftright(F.col("fp"), bounds[i])
             .bitwiseAND(F.lit((1 << widths[i]) - 1))
             for i in range(n_blocks)]
    from itertools import combinations
    combos = list(combinations(range(n_blocks), n_blocks - max_hamming))
    # ``fingerprints``: a precomputed (doc, fp) frame from
    # simhash_fingerprints — the caller owns its materialization
    # (checkpoint/cache), so the internal single-consumer
    # checkpoints below are skipped to avoid double-copying.
    precomputed = fingerprints is not None
    fp = (fingerprints.select("doc", "fp") if precomputed
          else df.select(F.col(id_col).alias("doc"),
                         simhash(text_col).alias("fp")))
    stars = None
    if collapse_identical:
        # materialize the fingerprints ONCE: the collapsed plan reads
        # fp three times (group aggregate, star join, blocking), and
        # without this the simhash UDF — tokenize + hash every doc,
        # the dominant linear term (measured ~60s of the 78s plain
        # wall at the 1000x smoke) — re-runs per consumer (measured:
        # 141s collapsed vs 78s plain at 1000x before this line).
        # 16 bytes/doc of storage buys one fp pass total. A
        # caller-precomputed frame is already materialized (the
        # caller owns it) — don't pin a second copy.
        if not precomputed:
            fp = fp.localCheckpoint(eager=True)
        # one keyed aggregate — the pre-pass itself is corpus-linear
        groups = fp.groupBy("fp").agg(F.min("doc").alias("rep"))
        stars = (fp.join(groups, "fp")
                 .filter(F.col("doc") != F.col("rep"))
                 .select(F.col("rep").alias("doc_a"),
                         F.col("doc").alias("doc_b"),
                         F.lit(0).cast("integer").alias("hamming")))
        fp = groups.select(F.col("rep").alias("doc"), "fp")
    chunk_keys = []
    for t, combo in enumerate(combos):
        key = F.lit(0).cast("long")
        for i in combo:
            key = F.shiftleft(key, widths[i]).bitwiseOR(block[i])
        chunk_keys.append(F.struct(F.lit(t).alias("chunk"),
                                   key.alias("key")))
    if band_bucket is not None and not collapse_identical:
        # the banded plan reads fp twice (hot-bucket sizes pass +
        # the main join) — materialize it once or the simhash UDF
        # (the dominant linear term, ~22.5s at the 1000x smoke)
        # runs per consumer. collapse_identical checkpointed already.
        if not precomputed:
            fp = fp.localCheckpoint(eager=True)
    chunks = fp.select(
        "doc", "fp", F.explode(F.array(*chunk_keys)).alias("c"),
    ).select("doc", "fp", "c.chunk", "c.key")
    if max_bucket is not None:
        # keep the first max_bucket docs per bucket — columnar
        # row_number + filter, no per-bucket array materialization,
        # so even a degenerate hot bucket costs one sort, not O(n^2)
        w = Window.partitionBy("chunk", "key").orderBy("doc")
        chunks = (chunks.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= max_bucket).drop("__rn"))
    if band_bucket is not None:
        # per-bucket PAIR BUDGET ∝ n (r9 — the same sub-bucket trick
        # as sparse_cosine band_df / fuzzy band_gram_df): a bucket
        # with n > band_bucket docs splits into ceil(n / band_bucket)
        # md5 sub-buckets and pairs form within a sub-bucket only, so
        # its fan-out falls from C(n, 2) to ~n·band_bucket/2 and
        # TOTAL candidate work is linear in postings. Unlike
        # max_bucket (which truncates a hot bucket to its first K
        # docs — docs K+1.. lose that bucket entirely), every doc
        # stays in the join with a uniform per-bucket survival
        # chance, so recall degrades gracefully (~1/n_sub per shared
        # bucket, and a within-budget pair with d damaged blocks
        # shares C(B-d, B-h) buckets — 20/10/4/1 for d=0..3).
        # Plan shape: hot-bucket sizes only (buckets > band are a
        # tiny fraction — ~1.2M of 45M at the 1000x smoke) broadcast
        # back onto the postings, so the postings frame is never
        # window-sorted (a first cut used count().over(partitionBy)
        # and the 100M-row sort cost MORE than the candidate savings:
        # 104.8s vs 93.0s exact at 1000x).
        hot = (chunks.groupBy("chunk", "key")
               .agg(F.count(F.lit(1)).alias("__n"))
               .filter(F.col("__n") > band_bucket))
        h32 = F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col("chunk").cast("string"),
            F.col("key").cast("string"),
            F.col("doc").cast("string"))), 1, 8), 16, 10).cast("long")
        chunks = (chunks.join(F.broadcast(hot), ["chunk", "key"],
                              "left")
                  .withColumn(
                      "sub",
                      F.when(F.col("__n").isNull(), F.lit(0))
                      .otherwise(h32 % F.ceil(F.col("__n")
                                              / F.lit(band_bucket))
                                 .cast("long")))
                  .drop("__n"))
    else:
        chunks = chunks.withColumn("sub", F.lit(0))
    a = chunks.select("chunk", "key", "sub",
                      F.col("doc").alias("doc_a"),
                      F.col("fp").alias("fp_a"))
    b = chunks.select("chunk", "key", "sub",
                      F.col("doc").alias("doc_b"),
                      F.col("fp").alias("fp_b"))
    # Verify-then-dedup (r7, was dedup-then-verify): the hamming
    # test is a map-side bit op on the join output, so applying it
    # INSIDE the join stage keeps the whole candidate stream in
    # whole-stage codegen and the only pair-keyed exchange is the
    # final distinct over SURVIVORS (pairs within the hamming
    # budget — corpus-linear) instead of over every cross-chunk
    # candidate (the saturation-zone stream the r6 smoke measured at
    # 60.8x for 100x data). Identical output: hamming is a pure
    # function of the pair, so filtering before vs after the
    # duplicate collapse keeps exactly the same surviving rows.
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    pairs = (a.join(b, ["chunk", "key", "sub"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .withColumn("hamming", hamming)
             .filter(F.col("hamming") <= max_hamming)
             .select("doc_a", "doc_b", "hamming").distinct())
    if stars is not None:
        # disjoint by construction: blocked pairs join DISTINCT
        # fingerprints (hamming >= 1); stars are the hamming-0 edges
        pairs = pairs.unionByName(stars)
    return pairs


# --- pair graph -> clusters ---------------------------------------------------

def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iter: int = 25,
                         driver_max_edges: int | None = 1_000_000
                         ) -> DataFrame:
    """Connected components of the near-dup pair graph by min-label
    propagation: every node's label converges to the smallest id
    reachable from it. Returns (doc_id, component).

    r9 optimization round — two execution strategies, chosen at
    RUNTIME from the materialized edge count (the same decide-by-
    true-size pattern as AQE's broadcast conversion, guide §3.1):

    * **small graph** (symmetric edge rows <= ``driver_max_edges``
      and integer node ids): collect the (already materialized,
      payload-free) edge list and run union-find with min-id roots
      on the driver — one pass, exact same labels as the fixpoint
      below. A pair graph is id-pairs only, so 1M rows is ~16 MB —
      comfortably inside the normal broadcast-side budget; the
      per-round shuffle machinery (12+ rounds x several AQE stages
      was the measured wall at sf0.1: 3.5-4s for a 512-pair graph)
      disappears. At 100 TB the near-dup pair set can exceed any
      driver budget, so:
    * **large graph**: the distributed min-label loop below —
      per round one equi-join (labels onto symmetric edges) + one
      min-groupBy + a pointer-jump composition (label of label:
      reach doubles per round, so rounds are O(log diameter) not
      O(diameter) — the sf0.1 collapsed-simhash graph carries
      ~12-hop chains, not the shallow diameter-2-4 clusters the r8
      notes assumed). The convergence test rides the SAME job that
      materializes each round's labels (an ``observe()`` metric on
      the new-vs-old join) instead of a second count() job.

    Edges are symmetrized with ONE explode pass over ``pairs``
    instead of a 2-branch union — the union form computed the
    (possibly expensive) pair derivation TWICE inside the
    materialization job, and the callers' pair frames (ngram-Jaccard
    candidate join, fuzzy-blocked levenshtein, simhash blocking) are
    exactly the expensive kind. Lineage is truncated per round with
    localCheckpoint so the plan doesn't grow unboundedly.

    ``driver_max_edges=None`` (or 0) forces the distributed path;
    the driver path also requires integer ids (Python's min must
    order exactly like Spark's — true for integral types; strings
    with non-ASCII code points could differ, so they stay
    distributed)."""
    e = pairs.select(F.explode(F.array(
        F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
    )).alias("__e")).select("__e.u", "__e.v")
    # every round's join re-reads the edge frame; materialize it once
    # or the pair derivation re-runs once per superstep (same
    # rationale as graph.pagerank's materialize_edges). LAZY (r9 opt
    # continuation): the size-gate count() below is the first action
    # and materializes the checkpoint itself — one job instead of a
    # checkpoint job plus a cached-read count job; when the gate is
    # disabled the first superstep materializes it instead.
    e = e.localCheckpoint(eager=False)
    id_type = dict(e.dtypes)["u"]
    if (driver_max_edges and id_type in ("tinyint", "smallint", "int",
                                         "bigint")
            and e.count() <= driver_max_edges):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:          # path compression
                parent[x], x = r, parent[x]
            return r

        rows = e.collect()
        for row in rows:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {row[0] for row in rows}
        out = [(n, find(n)) for n in sorted(nodes)]
        return pairs.sparkSession.createDataFrame(
            out, schema=f"doc_id {id_type}, component {id_type}")
    labels = (e.select("u").distinct()
              .select(F.col("u").alias("node"), F.col("u").alias("comp")))
    for _ in range(max_iter):
        neigh = (e.join(labels, e.v == labels.node)
                 .select(F.col("u").alias("node"), "comp"))
        l1 = (labels.union(neigh)
              .groupBy("node").agg(F.min("comp").alias("comp")))
        # pointer-jump: follow the label OF the label — comp(x) <= x
        # always holds (init own id; min includes self; jump only
        # composes), so the jump is monotone and the fixpoint is
        # unchanged (min reachable id). The l1 self-join's two
        # identical groupBy subtrees share one exchange at runtime
        # (AQE exchange reuse).
        l2 = (l1.join(l1.select(F.col("node").alias("__c"),
                                F.col("comp").alias("__cc")),
                      F.col("comp") == F.col("__c"))
              .select("node", F.col("__cc").alias("comp")))
        obs = Observation()
        new = (l2.join(labels.select("node", F.col("comp").alias("__old")),
                       "node")
               .observe(obs, F.sum((F.col("comp") != F.col("__old"))
                                   .cast("long")).alias("changed"))
               .select("node", "comp")
               .localCheckpoint(eager=True))
        labels = new
        if (obs.get["changed"] or 0) == 0:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("comp").alias("component"))


def closure_equality_violations(sub_pairs: DataFrame,
                                sub_components: DataFrame,
                                full_pairs: DataFrame) -> DataFrame:
    """Witness frame for ``closure(sub_pairs) != closure(full_pairs)``
    — EMPTY iff the two pair graphs have identical connected
    components (r9; replaces a second iterative connected-components
    run over the full graph with two single joins).

    Partition-equality decomposition, given ``sub_components`` =
    ``connected_components(sub_pairs)``:

    * (a) every sub edge is a full edge  =>  closure(sub) <=
      closure(full) — violations are ``exceptAll`` surplus rows;
    * (b) every FULL edge is internal to one sub-component class
      (both endpoints labeled, labels equal)  =>  closure(full) <=
      closure(sub) — violations are bridging/unlabeled edges.

    (a) and (b) together force equality; conversely any closure
    difference produces a witness: an edge sub lacks transitively
    shows up as a full edge bridging two sub classes (or touching an
    unlabeled vertex), and a spurious sub edge as (a) surplus. Both
    checks are corpus-linear joins over the pair sets — no
    iteration."""
    sub = sub_pairs.select("doc_a", "doc_b")
    full = full_pairs.select("doc_a", "doc_b")
    la = sub_components.select(F.col("doc_id").alias("doc_a"),
                               F.col("component").alias("__comp_a"))
    lb = sub_components.select(F.col("doc_id").alias("doc_b"),
                               F.col("component").alias("__comp_b"))
    surplus = sub.exceptAll(full)
    bridge = (full.join(la, "doc_a", "left").join(lb, "doc_b", "left")
              .filter(F.col("__comp_a").isNull()
                      | F.col("__comp_b").isNull()
                      | (F.col("__comp_a") != F.col("__comp_b")))
              .select("doc_a", "doc_b"))
    return surplus.unionAll(bridge)


def keep_representatives(docs: DataFrame, components: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Collapse each near-dup cluster to its lowest-id document.
    Docs in no pair survive untouched (left join against the — much
    smaller — components frame; broadcast when it fits)."""
    c = components.withColumnRenamed("doc_id", "__cc_id")
    return (docs.join(c, docs[id_col] == c["__cc_id"], "left")
            .filter(F.col("component").isNull() |
                    (F.col("component") == F.col(id_col)))
            .drop("__cc_id", "component"))


# --- semantic (embedding-space) dedup: SemDeDup ---------------------------

def semantic_dedup_flags(df: DataFrame, centroids: list[list[float]],
                         eps: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_cluster: int | None = 100_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then inside each cluster rank examples by
    similarity to their centroid (ascending — the paper keeps the
    LOW-centroid-similarity "edge" examples) and mark an example a
    duplicate if ANY earlier-ranked cluster-mate has cosine >= eps
    (the paper's upper-triangular max over the within-cluster
    similarity matrix).

    ``centroids`` are supplied (train with `clustering.kmeans`, or
    pass iteration-0 centroids for a fully engine-replayable run —
    the registry oracle does). Cluster assignment is a pure narrow
    expression (k literal codewords, argmin via array_min over
    (d2, cluster) structs — ties to the lower cluster id); the ONLY
    shuffles are the per-cluster rank window and the within-cluster
    candidate self-join, both partitioned by cluster. Pairwise cost
    is quadratic in cluster size by design (as in the paper) — size
    k so clusters average ~1-50k docs; the shuffle carries
    (id, vector) only.

    Returns every input row flagged: (id, cluster, centroid_sim,
    is_dup). Filter ``~is_dup`` to keep; ~(1 - 1/dup-group-size) of
    each duplicate group drops."""
    from pyspark.sql.window import Window

    from vega_spark.functions.similarity import cosine, dot, l2_norm

    v = F.col("__v")
    entries = []
    for i, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        cc = 0.0
        for x in c:                      # left fold, matches the SQL replay
            cc += float(x) * float(x)
        d2 = dot(v, v) - 2.0 * dot(v, lit_c) + F.lit(cc)
        entries.append(F.struct(d2.alias("d2"), F.lit(i).alias("cluster"),
                                (dot(v, lit_c)
                                 / (l2_norm(v) * F.lit(cc ** 0.5)))
                                .alias("csim")))
    best = F.array_min(F.array(*entries))
    a = (df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
         .select("id", "__v", best["cluster"].alias("cluster"),
                 best["csim"].alias("csim")))
    if max_cluster is not None:
        # the within-cluster self-join below is quadratic in cluster
        # size BY DESIGN (paper semantics) — refuse to run it when a
        # degenerate clustering (k too small for n, or collapsed
        # centroids) would make that stage explode instead of letting
        # it silently dominate the job. One bounded scan, k-row agg.
        biggest = (a.groupBy("cluster")
                   .agg(F.count(F.lit(1)).alias("n"))
                   .agg(F.max("n").alias("mx")).first()["mx"])
        if biggest is not None and biggest > max_cluster:
            raise ValueError(
                f"semantic_dedup_flags: largest cluster has {biggest} "
                f"rows > max_cluster={max_cluster}; the within-cluster "
                f"pair stage is O(cluster_size^2) — raise k (more "
                f"centroids), pre-split the corpus, or pass a larger/"
                f"None max_cluster to accept the quadratic cost")
    w = Window.partitionBy("cluster").orderBy(F.col("csim").asc(),
                                              F.col("id").asc())
    r = a.withColumn("rk", F.row_number().over(w))
    x = r.select("cluster", F.col("id").alias("id_x"),
                 F.col("__v").alias("vx"), F.col("rk").alias("rk_x"))
    y = r.select("cluster", F.col("id").alias("id_y"),
                 F.col("__v").alias("vy"), F.col("rk").alias("rk_y"))
    dropped = (x.join(y, "cluster")
               .filter((F.col("rk_y") < F.col("rk_x"))
                       & (cosine(F.col("vx"), F.col("vy")) >= eps))
               .select(F.col("id_x").alias("id")).distinct()
               .withColumn("__dup", F.lit(True)))
    return (r.join(dropped, "id", "left")
            .select(F.col("id").alias(id_col), "cluster",
                    F.round("csim", 6).alias("centroid_sim"),
                    F.coalesce("__dup", F.lit(False)).alias("is_dup")))


def semantic_dedup(df: DataFrame, k: int = 64, eps: float = 0.95,
                   kmeans_iters: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int | None = 100_000) -> DataFrame:
    """End-to-end SemDeDup: train k-means centroids (deterministic
    lowest-id init, `clustering.kmeans`), then flag duplicates with
    `semantic_dedup_flags`. Returns the KEPT rows of ``df``.

    Size ``k`` with the corpus: the per-cluster stage is quadratic in
    cluster size, so k must grow ~n/50k to keep clusters bounded at
    100 TB scale; the ``max_cluster`` guard (see semantic_dedup_flags)
    fails fast instead of letting an under-sized k go quadratic."""
    from vega_spark.functions.clustering import kmeans

    _, centroids = kmeans(df.select(id_col, vec_col), vec_col, k,
                          max_iter=kmeans_iters, id_col=id_col)
    flags = semantic_dedup_flags(df, centroids, eps, id_col, vec_col,
                                 max_cluster=max_cluster)
    keep = flags.filter(~F.col("is_dup")).select(id_col)
    return df.join(keep, id_col, "semi")


def mine_duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                         k: int = 8, min_count: int = 2,
                         est_text_bytes: int | None = None) -> DataFrame:
    """Exact-substring duplicate-span mining (the distributed
    approximation of suffix-array dedup from 'Deduplicating Training
    Data Makes Language Models Better', Lee et al. 2022): slide a
    k-token window over EVERY offset of every document, find windows
    whose exact text occurs >= ``min_count`` times corpus-wide, and
    merge runs of consecutive duplicated offsets into MAXIMAL spans —
    any duplicated passage of >= k tokens surfaces as one
    (doc, start, length) row, at any alignment (unlike span_dedup's
    disjoint fixed blocks).

    Plan shape (r10 opt, guide §2.4): the sliding fan-out is in-row
    (narrow); the duplicate test is a ``count(*) OVER (PARTITION BY
    digest)`` window over the gram stream — ONE corpus-wide shuffle
    of (digest, doc, pos), never text, and the fan-out is computed
    exactly once. The previous r1-r9 shape (digest groupBy → count>=2
    → join back onto the grams) re-derived the ENTIRE gram fan-out a
    second time as the join's probe side because the groupBy's
    partial-agg map stage differs from the join's and the exchange
    cannot be reused — measured 2.588 → 1.439 s at sf0.1 and
    ~500 → ~280 s at the 1000x smoke (the r9 spill band's biggest
    term was the doubled fan-out + second shuffle, not the sort).
    Digests are uniform so the window partitioning cannot skew. The
    island merge is a per-document window (bounded by document
    length, no global window). Returns (doc_id, start_pos 0-based
    token offset, span_len in tokens).

    ``est_text_bytes`` (caller-known input scale, parquet footer
    bytes — the drain_shuffle_partitions pattern): sizes the digest
    shuffle so one partition's gram slice sorts in memory (~128 MB
    target). The gram stream is ~44 bytes per ~6 input text bytes;
    below the session's partition count the hint is a no-op (AQE
    keeps coalescing small SFs exactly as before)."""
    from pyspark.sql.window import Window

    from vega_spark.functions.text import tokens

    grams = (df
             .select(F.col(id_col).alias("doc_id"),
                     tokens(F.col(text_col)).alias("__toks"))
             .filter(F.size("__toks") >= k)
             .select("doc_id", F.explode(
                 F.transform(
                     F.sequence(F.lit(1), F.size("__toks") - (k - 1)),
                     lambda i: F.struct(
                         (i - 1).alias("pos"),
                         # unhex: ship the 32-byte digest, not its
                         # 64-char hex string — the digest-keyed
                         # count is the one corpus-wide shuffle and
                         # this halves its key bytes (guide §2.3);
                         # same 256-bit exactness
                         F.unhex(F.sha2(F.concat_ws(
                             " ", F.slice(F.col("__toks"), i, k)),
                             256)).alias("d")))).alias("g"))
             .select("doc_id", "g.pos", "g.d"))
    if est_text_bytes:
        n = min(4096, math.ceil(est_text_bytes * 44 / 6 / (128 << 20)))
        conf = df.sparkSession.conf
        try:
            cur = int(conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            cur = 0  # non-numeric (e.g. "auto"): apply the sizing
        if n > cur:
            # explicit hash repartition on the digest: the window
            # below reuses this partitioning (ClusteredDistribution
            # satisfied), so this IS the one corpus-wide exchange,
            # sized to the fan-out instead of the session default
            grams = grams.repartition(n, "d")
    wd = Window.partitionBy("d")
    marked = (grams
              .withColumn("__n", F.count(F.lit(1)).over(wd))
              .filter(F.col("__n") >= min_count)
              .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = marked.withColumn(
        "__grp", F.col("pos") - F.row_number().over(w))
    return (islands.groupBy("doc_id", "__grp")
            .agg(F.min("pos").alias("start_pos"),
                 (F.count(F.lit(1)) + (k - 1)).alias("span_len"))
            .select("doc_id", "start_pos", "span_len"))
