"""North-star extensions: text analysis + dedup tiers, incl. an
LSH-vs-exact-Jaccard recall measurement on planted near-dups."""

from __future__ import annotations

from pyspark.sql import functions as F

from vega_spark.functions import dedup as D
from vega_spark.functions import text as T


def docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_tokens_and_counts(spark):
    df = docs(spark, ["Hello  world foo", ""])
    out = df.select(T.token_count("text").alias("n")).collect()
    assert sorted(r.n for r in out) == [0, 3]


def test_word_token_count(spark):
    df = docs(spark, ["don't stop, it's 42!"])
    n = df.select(T.word_token_count("text").alias("n")).first().n
    # don ' t stop , it ' s 4 2 !  → 11
    assert n == 11


def test_language_id(spark):
    df = docs(spark, [
        "the cat and the dog sat in that house for it was warm",
        "der hund und die katze ist nicht ein problem mit zu",
        "le chat est dans la maison pour que les oiseaux",
        "zzz qqq xxx",
    ])
    got = [r.lang for r in df.select(T.language_id("text").alias("lang"))
           .orderBy("doc_id").collect()]
    assert got == ["en", "de", "fr", "und"]


def test_quality_and_ratios_bounds(spark):
    df = docs(spark, ["the quick brown fox is one of the best foxes in town",
                      "!!! ??? ,,, ..."])
    rows = df.select(
        T.quality_score("text").alias("q"),
        T.punct_ratio("text").alias("p")).orderBy(F.desc("q")).collect()
    assert 0.0 <= rows[1].q <= rows[0].q <= 1.0
    assert rows[1].p > 0.5


def test_fingerprint_deterministic_and_sensitive(spark):
    df = docs(spark, ["a b c", "a b c", "a b d"])
    fps = [r.fp for r in df.select(T.fingerprint("text").alias("fp"))
           .orderBy("doc_id").collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_exact_dedup(spark):
    df = docs(spark, ["same text", "same text", "other text"])
    out = D.exact_dedup(df, "text", "doc_id").collect()
    got = {r.doc_id: r.dup_count for r in out}
    assert got == {0: 2, 2: 1}  # lowest-id representative survives


def test_ngram_jaccard_identical_docs(spark):
    df = docs(spark, ["the quick brown fox jumps over the lazy dog",
                      "the quick brown fox jumps over the lazy dog",
                      "completely different words entirely here now"])
    pairs = D.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.9)
    got = [(r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()]
    assert got == [(0, 1, 1.0)]


def _corpus(n=40):
    import random
    rnd = random.Random(1)
    vocab = [f"w{i}" for i in range(300)]
    base = [" ".join(rnd.choices(vocab, k=30)) for _ in range(n)]
    near = []
    for t in base[:10]:  # plant near-dups of the first 10
        toks = t.split()
        toks[3] = "CHANGED"
        near.append(" ".join(toks))
    return base + near  # ids n..n+9 are near-dups of 0..9


def test_minhash_lsh_recall_vs_exact(spark):
    texts = _corpus()
    df = docs(spark, texts)
    exact = {(r.doc_a, r.doc_b) for r in
             D.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.6).collect()}
    assert len(exact) >= 8  # the planted pairs are above threshold
    cand = {(r.doc_a, r.doc_b) for r in
            D.minhash_lsh_pairs(df, "text", "doc_id",
                                num_hashes=64, bands=16).collect()}
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({exact - cand})"


def test_simhash_identical_and_near(spark):
    texts = _corpus(20)
    df = docs(spark, texts + [texts[0]])  # exact dup of doc 0 at id 30
    pairs = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=8)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 30)) == 0  # identical text → identical fingerprint
    # planted near-dups (1 of 30 tokens changed) measured at hamming
    # 0-9 on this corpus; the 8-bit budget must catch most of them
    near_found = sum(1 for (a, b) in got if b - a == 20 and a < 10)
    assert near_found >= 7


def test_simhash_max_hamming_validated(spark):
    # r9 (ADVICE): with B clamped at 16 blocks the pigeonhole
    # guarantee holds for any h <= 15 (combination keys of 2 or 1
    # blocks at h = 14/15); only h >= 16 degenerates to a zero-width
    # key (full cross join) and must raise a CLEAR plan-time error.
    import pytest

    df = docs(spark, _corpus(3))
    for bad in (16, 17, -1):
        with pytest.raises(ValueError, match="max_hamming"):
            D.simhash_near_pairs(df, "text", "doc_id", max_hamming=bad)
    # 14 and 15 are legal (B = 16, C(16,2)/C(16,1) tables) and the
    # pigeonhole must still catch an exact duplicate (hamming 0)
    texts = _corpus(3)
    dup = docs(spark, texts + [texts[0]])
    for h in (13, 14, 15):
        got = {(r.doc_a, r.doc_b)
               for r in D.simhash_near_pairs(
                   dup, "text", "doc_id", max_hamming=h).collect()}
        assert (0, 3) in got


def test_simhash_collapse_identical(spark):
    # r9: 12 identical docs (one boilerplate clique) + the usual
    # near-dup corpus. Collapsed output must be LINEAR in the clique
    # (11 star edges, not C(12,2)=66 pairs) and its connected
    # components must equal the exhaustive form's exactly.
    texts = _corpus(10)
    rows = texts + [texts[0]] * 12          # ids 20..31 identical to doc 0... plus doc 0
    df = docs(spark, rows)
    full = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=3)
    coll = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=3,
                                collapse_identical=True)
    full_pairs = {(r.doc_a, r.doc_b) for r in full.collect()}
    coll_rows = coll.collect()
    coll_pairs = {(r.doc_a, r.doc_b) for r in coll_rows}
    assert coll_pairs <= full_pairs          # spanning subset
    # the clique {0, 20..31} contributes exactly 12 star edges (0 is
    # the min-id rep) instead of C(13,2) = 78 exhaustive pairs
    clique = {0} | set(range(20, 32))
    stars = {(a, b) for a, b in coll_pairs if a in clique and b in clique}
    assert stars == {(0, m) for m in range(20, 32)}
    assert all(r.hamming == 0 for r in coll_rows
               if (r.doc_a, r.doc_b) in stars)
    # closure equality: components of both pair graphs are identical
    cf = {(r.doc_id, r.component)
          for r in D.connected_components(full).collect()}
    cc = {(r.doc_id, r.component)
          for r in D.connected_components(coll).collect()}
    assert cf == cc


def test_closure_equality_violations(spark):
    # r9: the decomposition that replaced the second connected-
    # components run must be EMPTY exactly when closures are equal,
    # and must produce a witness for every failure mode.
    def pairs(spark, ps):
        return spark.createDataFrame(list(ps),
                                     "doc_a long, doc_b long")

    star = pairs(spark, [(1, 2), (1, 3)])       # component {1,2,3}
    chain = pairs(spark, [(1, 2), (2, 3)])      # same closure
    comp_star = D.connected_components(star)
    # equal closures, different edge sets in the allowed direction
    # (sub must be a SUBSET of full, so use sub=star, full=star+chain)
    full_sup = pairs(spark, [(1, 2), (1, 3), (2, 3)])
    assert D.closure_equality_violations(
        star, comp_star, full_sup).count() == 0
    # (b) bridge: full connects {1,2,3} to a vertex sub never saw
    full_bridge = pairs(spark, [(1, 2), (1, 3), (3, 4)])
    assert D.closure_equality_violations(
        star, comp_star, full_bridge).count() > 0
    # (b) split: full merges two sub-components
    two = pairs(spark, [(1, 2), (3, 4)])
    comp_two = D.connected_components(two)
    full_merge = pairs(spark, [(1, 2), (3, 4), (2, 3)])
    assert D.closure_equality_violations(
        two, comp_two, full_merge).count() > 0
    # (a) surplus: sub has an edge full lacks
    sub_extra = pairs(spark, [(1, 2), (1, 3), (5, 6)])
    comp_extra = D.connected_components(sub_extra)
    assert D.closure_equality_violations(
        sub_extra, comp_extra, star).count() > 0
    # identical edge sets: trivially equal
    assert D.closure_equality_violations(
        chain, D.connected_components(chain), chain).count() == 0


def test_simhash_precomputed_fingerprints_identical(spark):
    # r9: a caller-precomputed (doc, fp) frame fed via fingerprints=
    # must be bit-identical to the direct path for BOTH the plain and
    # the collapsed form — it is exactly the frame each pass would
    # have computed itself, just computed once.
    texts = _corpus(12)
    df = docs(spark, texts + [texts[0]] * 3)
    fp = D.simhash_fingerprints(df, "text", "doc_id") \
        .localCheckpoint(eager=True)
    for kw in ({}, {"collapse_identical": True}, {"max_bucket": 2}):
        direct = {tuple(r) for r in D.simhash_near_pairs(
            df, "text", "doc_id", max_hamming=3, **kw).collect()}
        shared = {tuple(r) for r in D.simhash_near_pairs(
            df, "text", "doc_id", max_hamming=3,
            fingerprints=fp, **kw).collect()}
        assert shared == direct, kw


def test_simhash_band_bucket(spark):
    # r9: inactive budget (band larger than every bucket) must be
    # bit-identical to the exact form; an active budget must return
    # a subset that still catches planted exact/near dups with high
    # probability (an exact dup shares all 20 combination buckets,
    # so it survives banding unless every one of 20 independent
    # sub-bucket draws separates the pair).
    texts = _corpus(20)
    df = docs(spark, texts + [texts[0]])
    exact = {(r.doc_a, r.doc_b) for r in D.simhash_near_pairs(
        df, "text", "doc_id", max_hamming=8).collect()}
    inact = {(r.doc_a, r.doc_b) for r in D.simhash_near_pairs(
        df, "text", "doc_id", max_hamming=8,
        band_bucket=10_000).collect()}
    assert inact == exact
    act = {(r.doc_a, r.doc_b) for r in D.simhash_near_pairs(
        df, "text", "doc_id", max_hamming=8, band_bucket=2).collect()}
    assert act <= exact
    assert (0, 30) in act        # exact dup: 20 chances to co-bucket


def test_simhash_hot_chunk_cap(spark):
    # 40 identical docs: every (chunk, key) bucket holds all 40 ids.
    # With max_bucket=5 each bucket keeps ids 0..4 only, so candidate
    # pairs are exactly the C(5,2)=10 pairs among the first 5 docs —
    # the cap truncates by sorted id, mirroring minhash_lsh_pairs.
    texts = ["the quick brown fox jumps over the lazy dog again"] * 40
    df = docs(spark, texts)
    capped = D.simhash_near_pairs(df, "text", "doc_id",
                                  max_hamming=3, max_bucket=5)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(a, b) for a in range(5) for b in range(a + 1, 5)}
    # uncapped finds all C(40,2) pairs; the library default is
    # exhaustive (max_bucket=None — r5 ADVICE: no silent truncation
    # in library calls; the registry entry points opt into 1000)
    full = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=3,
                                max_bucket=None)
    dflt = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=3)
    assert full.count() == 40 * 39 // 2
    assert dflt.count() == full.count()


def test_simhash_pigeonhole_exhaustive_vs_brute_force(spark):
    """The Manku combinatorial blocking (r7) must find EVERY pair
    within the hamming budget — pigeonhole over C(B, B-h) block
    combinations guarantees it, and this replays the guarantee
    against a brute-force all-pairs scan of the same fingerprints,
    for several budgets (different B / table counts)."""
    import random

    rng = random.Random(77)
    words = [f"w{i}" for i in range(60)]
    texts = []
    for _ in range(40):
        base = [rng.choice(words) for _ in range(25)]
        texts.append(" ".join(base))
        # planted mutations at varying depths → a spread of distances
        for k in (1, 3, 6):
            mut = list(base)
            for _ in range(k):
                mut[rng.randrange(len(mut))] = rng.choice(words)
            texts.append(" ".join(mut))
    df = docs(spark, texts)
    fps = {r.doc_id: r.fp for r in df.select(
        "doc_id", D.simhash("text").alias("fp")).collect()}
    for h in (1, 3, 5):
        truth = {(a, b)
                 for a in fps for b in fps if a < b
                 and bin((fps[a] ^ fps[b])
                         & 0xFFFFFFFFFFFFFFFF).count("1") <= h}
        got = {(r.doc_a, r.doc_b) for r in D.simhash_near_pairs(
            df, "text", "doc_id", max_hamming=h).collect()}
        assert got == truth, (h, len(got), len(truth))


def test_word_shingles_udf_matches_expression(spark):
    # the Arrow-batched shingle generator must reproduce the Column
    # expression EXACTLY (same sets, same first-occurrence order,
    # same <n/empty/null fallbacks) — the oracle replays string
    # shingles, so any drift here breaks exactness
    rows = [(0, "the cat sat on the mat on the mat"),
            (1, "one two"),            # < n tokens -> whole-doc shingle
            (2, "single"),
            (3, ""),                   # empty -> [""]
            (4, None),                 # null -> [""] (concat_ws(null))
            (5, "a  b\tc\nd   e f a b c d e f"),  # mixed whitespace, dups
            (6, "UPPER Case MiXeD lower case mixed"),
            # unicode hazards: Java \s (what F.split compiles) is
            # ASCII-only, so NBSP/ideographic space are TOKEN CHARS,
            # not separators — the UDF must agree (re.ASCII)
            (7, "nbsp\xa0joined stays one token with more words here"),
            (8, "ideo　space also joins tokens in both engines ok"),
            (9, "vtab\x0bis a separator in both so this splits fine"),
            (10, "ümlauts Straße ÉTÉ çedilla ümlauts Straße ÉTÉ again x")]
    # plus a seeded random corpus over a nasty alphabet
    import random
    rnd = random.Random(77)
    alphabet = list("ab YZ\t\n\xa0　\x0b.,éÉßÜ")
    rows += [(100 + i, "".join(rnd.choice(alphabet)
                               for _ in range(rnd.randrange(0, 60))))
             for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3, 4):
        expr = {r.doc_id: r.s for r in df.select(
            "doc_id", D.word_shingles("text", n).alias("s")).collect()}
        udf = {r.doc_id: r.s for r in df.select(
            "doc_id", D._word_shingles_udf(n)("text").alias("s")).collect()}
        assert expr == udf, f"n={n}: {expr} != {udf}"


def test_ngram_jaccard_impls_agree(spark):
    texts = _corpus()
    df = docs(spark, texts)
    p1 = sorted(map(tuple, D.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.5, impl="pandas").collect()))
    p2 = sorted(map(tuple, D.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.5, impl="expr").collect()))
    assert p1 == p2 and len(p1) >= 8


def test_shingle_hot_key_guard(spark):
    texts = ["common common common"] * 30
    df = docs(spark, texts)
    idx = D.shingle_index(df, "text", "doc_id", n=3, max_doc_freq=10)
    assert idx.count() == 0  # the stop-shingle was dropped


def test_shingle_udf_sees_each_row_once(spark, monkeypatch):
    # every consumer of the shingle index (self-join sides, per-doc
    # sizes, hot-shingle cap) must share one exchange: the pandas
    # shingle UDF receives each input row exactly once per action
    acc = spark.sparkContext.accumulator(0)
    make = D._word_shingles_udf

    def counting(n):
        shingles = make(n).func

        @F.pandas_udf("array<string>")
        def counted(texts):
            acc.add(len(texts))
            return shingles(texts)
        return counted

    monkeypatch.setattr(D, "_word_shingles_udf", counting)
    texts = _corpus()
    df = docs(spark, texts)
    for cap in (1000, 3, None):
        acc.value = 0
        D.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5,
                              max_doc_freq=cap).collect()
        assert acc.value == len(texts), (cap, acc.value)


def test_shingle_hot_cap_counts_null_ids_like_oracle(spark):
    # the hot-shingle cap counts index rows whose doc id is null, as
    # the oracle's `hot` CTE does. Five rows hold "boiler plate text"
    # and one of them has a null id: 5 > 4 drops the shingle, which
    # moves the planted pair's jaccard from 3/4 to 2/3. Skipping the
    # null row would count 4, keep the shingle and give 0.75.
    import duckdb
    import pandas as pd

    from vega_spark.registry import _NGRAM_JACCARD_SQL
    rows = [(1, "boiler plate text x y"),
            (2, "boiler plate text x y z"),
            (3, "boiler plate text a3 b3"),
            (4, "boiler plate text a4 b4"),
            (None, "boiler plate text a5 b5"),
            (6, "unrelated words live here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, D.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.5,
        max_doc_freq=4).collect()))
    sql = _NGRAM_JACCARD_SQL.replace("COUNT(*) > 1000", "COUNT(*) > 4")
    assert sql != _NGRAM_JACCARD_SQL
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"])
                 .astype({"doc_id": "Int64"}))
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want == [(1, 2, 0.666667)]


# --- end-to-end pipeline ------------------------------------------------------

def test_pipeline_filters_and_dedupes(spark):
    from vega_spark.functions.pipeline import clean_corpus, corpus_stats
    docs = spark.createDataFrame(
        [(1, "the cat and the dog sat in the house for a while"),
         (2, "the cat and the dog sat in the house for a while"),  # dup of 1
         (3, "!!! ??? ### $$$ %%%"),                               # junk punct
         (4, "word"),                                              # too short
         (5, "der hund und die katze sind mit auf der wiese zu hause")],
        "doc_id long, text string")
    out = clean_corpus(docs)
    got = {r.doc_id: (r.lang_pred, r.quality) for r in out.collect()}
    assert set(got) == {1, 5}          # 2 deduped, 3+4 quality-gated
    assert got[1][0] == "en" and got[5][0] == "de"
    stats = {r.lang_pred: r.n_docs for r in corpus_stats(out).collect()}
    assert stats == {"en": 1, "de": 1}


# --- normalization / PII masking ---------------------------------------------

def test_normalize_text_canonical_form(spark):
    from vega_spark.functions.text import normalize_text
    df = spark.createDataFrame(
        [("  The   QUICK\t\tbrown\n\nfox  ",)], "text string")
    assert df.select(normalize_text("text").alias("t")).first().t == \
        "the quick brown fox"


def test_mask_pii_patterns(spark):
    from vega_spark.functions.text import mask_pii
    df = spark.createDataFrame(
        [("mail me at jo.doe+x@example.co.uk or visit "
          "https://example.com/a?b=1 or call +1 (415) 555-0100 now",),
         ("no pii here",)], "text string")
    got = [r.m for r in df.select(mask_pii("text").alias("m")).collect()]
    assert got[0] == "mail me at <EMAIL> or visit <URL> or call <PHONE> now"
    assert got[1] == "no pii here"


# --- pair graph -> clusters ---------------------------------------------------

def test_connected_components_paths_agree(spark):
    # r9 opt round: the runtime-size-gated driver union-find path and
    # the distributed min-label/pointer-jump loop must emit IDENTICAL
    # labels — same fixpoint (min reachable id), every endpoint
    # labeled. 60-hop chain forces many pointer-jump rounds; islands
    # and a clique cover star/merge shapes.
    edges = ([(i, i + 1) for i in range(1, 60)]          # long chain
             + [(100, 101), (200, 201), (201, 202),      # islands
                (300, 301), (300, 302), (301, 302)])     # clique
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    via_driver = {(r.doc_id, r.component)
                  for r in D.connected_components(pairs).collect()}
    via_loop = {(r.doc_id, r.component)
                for r in D.connected_components(
                    pairs, driver_max_edges=None).collect()}
    assert via_driver == via_loop
    assert (1, 1) in via_driver and (60, 1) in via_driver
    assert (302, 300) in via_driver


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, forces multiple propagation rounds),
    # island pair 10-11, plus 20-21/21-22 triangle-free v
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long")
    got = {r.doc_id: r.component
           for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_keep_representatives_passes_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_a long, doc_b long")
    comp = D.connected_components(pairs)
    kept = sorted(r.doc_id for r in
                  D.keep_representatives(docs, comp).collect())
    assert kept == [0, 1, 2, 4]   # 3,5 collapse into representative 1


# --- token-window chunking ----------------------------------------------------

def test_chunk_tokens_windows_and_overlap(spark):
    from vega_spark.functions.text import chunk_tokens
    text = " ".join(f"t{i}" for i in range(10))   # 10 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted((r.chunk_idx, r.chunk_text, r.n_tokens)
                 for r in chunk_tokens(df, "text", "doc_id",
                                       chunk_size=4, overlap=2).collect())
    # stride 2: starts 0,2,4,6 (start 8 would add <= overlap new tokens)
    assert [c[0] for c in out] == [0, 1, 2, 3]
    assert out[0][1] == "t0 t1 t2 t3"
    assert out[1][1] == "t2 t3 t4 t5"
    assert out[3] == (3, "t6 t7 t8 t9", 4)


def test_chunk_tokens_short_and_empty_docs(spark):
    from vega_spark.functions.text import chunk_tokens
    df = spark.createDataFrame(
        [(1, "a b"), (2, "   "), (3, "")], "doc_id long, text string")
    out = chunk_tokens(df, "text", "doc_id", chunk_size=4, overlap=2).collect()
    assert [(r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
            for r in out] == [(1, 0, "a b", 2)]


def test_chunk_tokens_rejects_bad_overlap(spark):
    from vega_spark.functions.text import chunk_tokens
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    import pytest
    with pytest.raises(ValueError):
        chunk_tokens(df, "text", "doc_id", chunk_size=4, overlap=4)


# --- unigram LM scoring / repetition / incremental dedup ----------------------

def test_unigram_logprob_score(spark):
    import math
    from vega_spark.functions.text import unigram_logprob_score
    # corpus: "a a a b" -> p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame(
        [(1, "a a"), (2, "a b")], "doc_id long, text string")
    out = {r.doc: (r.n_tokens, r.avg_logprob)
           for r in unigram_logprob_score(df, "text", "doc_id").collect()}
    assert out[1][0] == 2 and out[2][0] == 2
    assert math.isclose(out[1][1], math.log(0.75), abs_tol=1e-6)
    assert math.isclose(out[2][1], (math.log(0.75) + math.log(0.25)) / 2,
                        abs_tol=1e-6)
    # the all-common-token doc scores higher (less surprising)
    assert out[1][1] > out[2][1]


def test_repetition_stats_flags_boilerplate(spark):
    from vega_spark.functions.text import repetition_stats
    df = spark.createDataFrame(
        [(1, "spam spam spam spam eggs"),    # heavy repetition
         (2, "one two three four five"),     # all distinct
         (3, "")],                           # empty -> no row
        "doc_id long, text string")
    out = {r.doc: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1].n_tokens == 5 and out[1].n_distinct == 2
    assert abs(out[1].top_term_frac - 0.8) < 1e-9
    assert out[2].top_term_frac == 0.2 and out[2].distinct_frac == 1.0


def test_incremental_new_docs(spark):
    from vega_spark.functions.dedup import incremental_new_docs
    corpus = spark.createDataFrame(
        [(1, "old news"), (2, "evergreen")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "fresh take"),       # genuinely new
         (11, "old news"),        # already in corpus -> dropped
         (12, "fresh take"),      # in-batch dup -> keep-first (10)
         (13, "another one")],
        "doc_id long, text string")
    out = sorted((r.doc_id, r.text) for r in
                 incremental_new_docs(corpus, batch, "text", "doc_id").collect())
    assert out == [(10, "fresh take"), (13, "another one")]


def test_span_dedup_removes_repeated_passages(spark):
    from vega_spark.functions.dedup import span_dedup
    # k=2 spans; "a b" is doc 1's first span and repeats in docs 2/3
    df = spark.createDataFrame(
        [(1, "a b c d"),          # spans: "a b", "c d"
         (2, "a b x y"),          # "a b" dup -> survives as "x y"
         (3, "a b"),              # entirely duplicate -> doc dropped
         (4, "p q")],             # untouched
        "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           span_dedup(df, "text", "doc_id", span_tokens=2).collect()}
    assert out == {1: "a b c d", 2: "x y", 4: "p q"}


def test_span_dedup_keep_first_order_and_short_tail(spark):
    from vega_spark.functions.dedup import span_dedup
    # tail span shorter than k is a span of its own; keep-first is by
    # (doc_id, pos): doc 5's "z" tail survives, doc 6's copy does not
    df = spark.createDataFrame(
        [(5, "m n z"), (6, "z")], "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           span_dedup(df, "text", "doc_id", span_tokens=2).collect()}
    assert out == {5: "m n z"}


def test_zipf_rank_frequency(spark):
    from vega_spark.functions.text import zipf_rank_frequency
    df = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string")
    rows = sorted(zipf_rank_frequency(df, "text", top_n=2).collect(),
                  key=lambda r: r.rank)
    assert [(r.term, r.cnt, r.rank) for r in rows] == [("a", 3, 1), ("b", 2, 2)]


def test_vocab_stats(spark):
    from vega_spark.functions.text import vocab_stats
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string")
    r = vocab_stats(df, "text").first()
    assert (r.total_tokens, r.vocab_size, r.hapax_terms) == (5, 3, 1)
    assert abs(r.type_token_ratio - 0.6) < 1e-9


def test_build_vocab_deterministic_ranking(spark):
    from vega_spark.functions.text import build_vocab
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b z")], "doc_id long, text string")
    v = {r["term"]: (r["token_id"], r["n"])
         for r in build_vocab(docs, "text", size=3).collect()}
    assert v["b"] == (1, 4)            # most frequent
    assert v["a"] == (2, 3)
    assert v["c"][0] == 3              # freq-1 tie broken by term: c < z
    assert "z" not in v                # truncated at size


def test_encode_tokens_order_preserving_with_oov(spark):
    from vega_spark.functions.text import build_vocab, encode_tokens
    docs = spark.createDataFrame(
        [(1, "b a b rare"), (2, "")], "doc_id long, text string")
    vocab = build_vocab(docs.filter("doc_id = 1"), "text", size=2)
    out = {r["doc_id"]: r["token_ids"]
           for r in encode_tokens(docs, vocab).collect()}
    # b=1 (freq 2), a=2; "rare" trimmed from vocab -> OOV 0
    assert out[1] == [1, 2, 1, 0]
    assert out[2] == []


def test_semantic_dedup_drops_planted_near_dups(spark):
    """SemDeDup end-to-end (kmeans-trained centroids): planted
    near-identical vectors collapse to one survivor; distant vectors
    all survive; the survivor is the LOWEST-centroid-similarity
    member of its duplicate group (paper's keep-edge-examples rule
    via ascending-centroid-sim ranking)."""
    import random

    from vega_spark.functions.dedup import (semantic_dedup,
                                            semantic_dedup_flags)

    rnd = random.Random(7)
    base = [[rnd.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    rows = []
    # ids 0..5: six well-separated originals
    for i, v in enumerate(base):
        rows.append((i, v))
    # ids 10..12: three tiny perturbations of base[0] — near-dups
    for j in range(3):
        rows.append((10 + j, [x + 0.001 * (j + 1) for x in base[0]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kept = semantic_dedup(df, k=3, eps=0.999, kmeans_iters=5)
    kept_ids = {r.vec_id for r in kept.collect()}
    dup_group = {0, 10, 11, 12}
    assert len(kept_ids & dup_group) == 1          # group collapses to one
    assert {1, 2, 3, 4, 5} <= kept_ids             # originals survive

    # flags frame is total: every input row exactly once, dup count = 3
    from pyspark.sql import functions as F
    flags = semantic_dedup_flags(
        df, [base[0], base[1], base[2]], eps=0.999)
    assert flags.count() == df.count()
    assert flags.filter(F.col("is_dup")).count() == 3


def test_readability_flesch_counts(spark):
    from vega_spark.functions.text import readability_scores
    df = spark.createDataFrame(
        [(1, "The cat sat. On a mat!"), (2, "xyz 123")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in readability_scores(df).collect()}
    # doc 1: 6 words, 2 sentence runs; syllables: vowel groups in
    # "the cat sat on a mat" = 6, no vowel-less words
    assert got[1].n_words == 6 and got[1].n_sentences == 2
    assert got[1].n_syllables == 6
    import math
    exp = 206.835 - 1.015 * 6 / 2 - 84.6 * 6 / 6
    assert math.isclose(got[1].flesch, round(exp, 6))
    # doc 2: "xyz" has y (1 group), "123" no vowels -> +1 floor
    assert got[2].n_syllables == 2
    assert got[2].n_sentences == 1   # floored at 1 with no punctuation


def test_bigram_lm_orders_beat_shuffled(spark):
    from vega_spark.functions.text import bigram_lm_score
    # corpus of repeated ordered phrases; one doc with the same words
    # in scrambled order scores lower under the bigram model
    corpus = [(i, "the quick brown fox jumps") for i in range(30)]
    corpus.append((100, "fox the jumps quick brown"))
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.avg_logprob
           for r in bigram_lm_score(df, vocab_size=10).collect()}
    assert got[100] < got[0]          # wrong order -> lower score
    assert all(got[i] == got[0] for i in range(30))  # identical docs tie


# --- incremental near-dup against a persisted LSH index ---------------------

def _lsh_corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "spark engines shuffle data between executors when wide dependencies appear"),
        (3, "completely different content about cooking pasta with fresh tomato sauce"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_incremental_flags_recrawled_copy(spark):
    corpus = _lsh_corpus(spark)
    sigs, buckets = D.lsh_index(corpus, "text", "doc_id",
                                num_hashes=32, bands=8)
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the river bank today"),
         (101, "unrelated brand new text on astronomy telescopes and distant galaxies tonight")],
        "doc_id long, text string")
    out = {r.doc: r for r in D.near_dup_against_index(
        batch, sigs, buckets, "text", "doc_id",
        num_hashes=32, bands=8, threshold=0.7).collect()}
    assert out[100].is_near_dup and out[100].matched_doc == 1
    assert out[100].matched_lanes == 32 and out[100].est_jaccard == 1.0
    assert not out[101].is_near_dup and out[101].matched_doc is None
    assert out[101].matched_lanes == 0


def test_near_dup_incremental_catches_small_edit(spark):
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu") * 2
    edited = base.replace("oscar", "edited", 1)
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    sigs, buckets = D.lsh_index(corpus, "text", "doc_id",
                                num_hashes=64, bands=16)
    batch = spark.createDataFrame([(9, edited)], "doc_id long, text string")
    (r,) = D.near_dup_against_index(batch, sigs, buckets, "text", "doc_id",
                                    threshold=0.5).collect()
    assert r.is_near_dup and r.matched_doc == 1
    assert 32 <= r.matched_lanes < 64  # near but not exact


def test_near_dup_incremental_hot_bucket_guard(spark):
    # 5 identical corpus docs → every bucket has 5 members; with
    # max_bucket=4 the lookup must skip them all (stop-bucket
    # semantics), so even an exact copy is NOT flagged
    rows = [(i, "same boilerplate footer text repeated on every page here")
            for i in range(1, 6)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    sigs, buckets = D.lsh_index(corpus, "text", "doc_id",
                                num_hashes=32, bands=8)
    batch = spark.createDataFrame(
        [(99, "same boilerplate footer text repeated on every page here")],
        "doc_id long, text string")
    (r,) = D.near_dup_against_index(batch, sigs, buckets, "text", "doc_id",
                                    num_hashes=32, bands=8,
                                    threshold=0.7, max_bucket=4).collect()
    assert not r.is_near_dup


def test_near_dup_incremental_tie_breaks_to_smallest_doc(spark):
    # two identical corpus docs (ids 7 and 3) both match on all
    # lanes; the deterministic winner is the smaller id
    rows = [(7, "tie breaking corpus text with many stable words inside"),
            (3, "tie breaking corpus text with many stable words inside")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    sigs, buckets = D.lsh_index(corpus, "text", "doc_id",
                                num_hashes=32, bands=8)
    batch = spark.createDataFrame(
        [(50, "tie breaking corpus text with many stable words inside")],
        "doc_id long, text string")
    (r,) = D.near_dup_against_index(batch, sigs, buckets, "text", "doc_id",
                                    num_hashes=32, bands=8,
                                    threshold=0.7).collect()
    assert r.is_near_dup and r.matched_doc == 3


def test_mine_repeated_ngrams_exact(spark):
    from vega_spark.functions.text import mine_repeated_ngrams
    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x a b c y"), (3, "z z")],
        "doc_id long, text string")
    got = {(r.ngram, r.total, r.n_docs)
           for r in mine_repeated_ngrams(docs, n=3, min_docs=2,
                                         top=10).collect()}
    # 'a b c' appears twice in doc 1 and once in doc 2; no other
    # 3-gram spans two docs
    assert got == {("a b c", 3, 2)}


def test_mine_repeated_ngrams_no_expand(spark):
    # the doc-frequency agg must be two mergeable aggregates, not a
    # countDistinct Expand (which triples the shuffle at scale)
    from vega_spark.functions.text import mine_repeated_ngrams
    docs = spark.createDataFrame([(1, "a b c d")],
                                 "doc_id long, text string")
    plan = mine_repeated_ngrams(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" not in plan


def test_mine_duplicate_spans_maximal_and_aligned(spark):
    from vega_spark.functions.dedup import mine_duplicate_spans
    # docs 1 and 2 share an interior 5-token passage at DIFFERENT
    # offsets; doc 3 is clean. k=3 -> the passage yields 3 duplicated
    # window starts merged into one maximal span of length 5.
    docs = spark.createDataFrame(
        [(1, "u1 u2 p q r s t v1"),
         (2, "w1 w2 w3 p q r s t"),
         (3, "x1 x2 x3 x4 x5 x6 x7 x8")],
        "doc_id long, text string")
    got = {(r.doc_id, r.start_pos, r.span_len)
           for r in mine_duplicate_spans(docs, "text", "doc_id",
                                         k=3).collect()}
    assert got == {(1, 2, 5), (2, 3, 5)}


def test_mine_duplicate_spans_whole_doc_dup(spark):
    from vega_spark.functions.dedup import mine_duplicate_spans
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string")
    got = {(r.doc_id, r.start_pos, r.span_len)
           for r in mine_duplicate_spans(docs, "text", "doc_id",
                                         k=4).collect()}
    assert got == {(1, 0, 4), (2, 0, 4)}


def test_mine_duplicate_spans_non_numeric_partition_conf(spark,
                                                         monkeypatch):
    # a non-numeric shuffle.partitions (e.g. "auto") must not crash
    # the footer-sized repartition; it applies the repartition instead.
    # Spark rejects "auto" at conf.set, so the read is stubbed.
    from vega_spark.functions.dedup import mine_duplicate_spans
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string")
    conf = docs.sparkSession.conf
    real_get = conf.get

    def get(key, *args):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key, *args)

    with monkeypatch.context() as m:
        m.setattr(conf, "get", get)
        # 200 MB of text -> ceil(200e6 * 44 / 6 / 128 MiB) = 11
        spans = mine_duplicate_spans(docs, "text", "doc_id", k=4,
                                     est_text_bytes=200_000_000)
    plan = spans._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression [d" in plan and ", 11" in plan
    got = {(r.doc_id, r.start_pos, r.span_len) for r in spans.collect()}
    assert got == {(1, 0, 4), (2, 0, 4)}


def test_oov_rate_exact_counts(spark):
    from vega_spark.functions.text import oov_rate_by_group
    docs = spark.createDataFrame(
        [(1, "en", "a a b rare1"), (2, "en", "a b b"),
         (3, "de", "rare2 rare3 a")],
        "doc_id long, lang string, text string")
    # vocab_size=2 -> vocab = {a (4x), b (3x)}
    got = {r.lang: (r.total_tokens, r.oov_tokens, r.oov_ppm)
           for r in oov_rate_by_group(docs, vocab_size=2).collect()}
    assert got["en"] == (7, 1, 142857)   # rare1 of 7
    assert got["de"] == (3, 2, 666666)   # rare2, rare3 of 3


def test_ngram_jaccard_hot_shingle_guard_kills_quadratic_bucket(spark):
    """r3 verdict #2: a boilerplate shingle shared by M otherwise-
    distinct docs must not force an M^2 candidate self-join when the
    max_doc_freq guard is on — and genuinely similar docs (sharing
    many NON-hot shingles) must still pair."""
    # 30 docs that share one boilerplate trigram but nothing else
    boiler = [f"click here now u{i} v{i} w{i} x{i} y{i}" for i in range(30)]
    # a planted near-dup pair sharing a long unique passage
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " extra"
    df = docs(spark, boiler + [a, b])

    unguarded = D.ngram_jaccard_pairs(df, "text", "doc_id",
                                      n=3, threshold=0.01)
    guarded = D.ngram_jaccard_pairs(df, "text", "doc_id",
                                    n=3, threshold=0.01, max_doc_freq=10)
    # without the guard the hot shingle yields 30*29/2 boiler pairs
    assert unguarded.count() >= 435
    got = {(r.doc_a, r.doc_b) for r in guarded.collect()}
    assert got == {(30, 31)}  # only the true near-dup pair survives


def test_minhash_lsh_max_bucket_none_keeps_every_collision(spark):
    """ADVICE r3: the 100%-recall contract needs max_bucket=None —
    a capped hot bucket silently drops true pairs."""
    df = docs(spark, ["identical text for every doc here"] * 6)
    capped = D.minhash_lsh_pairs(df, "text", "doc_id",
                                 num_hashes=16, bands=4, max_bucket=3)
    full = D.minhash_lsh_pairs(df, "text", "doc_id",
                               num_hashes=16, bands=4, max_bucket=None)
    assert capped.count() == 3   # 3 docs survive the cap -> 3 pairs
    assert full.count() == 15    # all C(6,2) pairs


def test_semantic_dedup_max_cluster_guard(spark):
    """r3 verdict #3: a degenerate clustering (every row in one
    cluster) must fail fast instead of running the O(n^2)
    within-cluster stage; None opts back in."""
    import pytest

    from vega_spark.functions.dedup import semantic_dedup_flags

    rows = [(i, [1.0, 0.0, float(i % 3)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one_centroid = [[1.0, 0.0, 1.0]]
    with pytest.raises(ValueError, match="max_cluster"):
        semantic_dedup_flags(df, one_centroid, eps=0.99,
                             max_cluster=10)
    # opting out (or a big enough bound) still works end to end
    out = semantic_dedup_flags(df, one_centroid, eps=0.99,
                               max_cluster=None)
    assert out.count() == 50
