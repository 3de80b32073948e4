"""Tests for the training-data operators (dedup / vectors / text /
multimodal) and a fast inline oracle check of representative contract
queries at sf0.001."""

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from ebel_spark.ops import dedup as D
from ebel_spark.ops import text as T
from ebel_spark.ops import vectors as X
from ebel_spark.ops.multimodal import (extract_features, frame_sample_plan,
                                       resize_spec, synth_assets)

SF = "/root/testdata/sf0.001"

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog and runs far away"),
    (1, "the quick brown fox jumps over the lazy dog and runs far home"),
    (2, "completely different text about spark shuffle partitions here ok"),
    (3, "the quick brown fox jumps over the lazy dog and runs far away"),
    (4, "der hund läuft nicht auf der straße und das ist ein problem"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


class TestText:
    def test_token_count(self, docs):
        rows = {r.doc_id: r.n for r in docs.select(
            "doc_id", T.token_count(F.col("text")).alias("n")).collect()}
        assert rows[0] == 13
        assert rows[5] == 0

    def test_lang_id(self, docs):
        rows = {r.doc_id: r.lang for r in docs.select(
            "doc_id", T.lang_id(F.col("text")).alias("lang")).collect()}
        assert rows[0] == "en"
        assert rows[4] == "de"
        assert rows[5] == "unknown"

    def test_fingerprint_stability(self, docs):
        rows = {r.doc_id: r.fp for r in docs.select(
            "doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
        assert rows[0] == rows[3]          # identical docs
        assert rows[0] != rows[2]
        assert rows[5] is None

    def test_tfidf_topk_math_and_ranking(self, spark):
        import math
        df = spark.createDataFrame(
            [(0, "apple banana apple"),
             (1, "banana cherry"),
             (2, "cherry cherry date")],
            ["doc_id", "text"])
        got = {(r.doc_id, r.term): (r.tfidf, r.rnk)
               for r in T.tfidf_topk(df, k=2).collect()}

        def tfidf(tf, dfreq, n=3):
            return round(tf * (math.log((n + 1.0) / (dfreq + 1.0)) + 1.0), 4)

        # doc 0: apple tf=2 df=1 beats banana tf=1 df=2
        assert got[(0, "apple")] == (tfidf(2, 1), 1)
        assert got[(0, "banana")] == (tfidf(1, 2), 2)
        # doc 2: cherry tf=2 df=2 vs date tf=1 df=1 — value ranking, not tf
        assert got[(2, "cherry")][1] == (
            1 if tfidf(2, 2) > tfidf(1, 1) else 2)
        assert all(r[1] <= 2 for r in got.values())

    def test_unigram_logprob_math_and_partition_independence(self, spark):
        import math
        df = spark.createDataFrame(
            [(0, "a a b"), (1, "b c"), (2, "zzz")], ["doc_id", "text"])
        # corpus: a:2 b:2 c:1 zzz:1 -> total 6, V=4
        def p(cnt):
            return (cnt + 1.0) / (6 + 4)
        def fold(cnts):
            s = sum(math.floor(-math.log(p(c)) * 1e9) for c in cnts)
            return round(s / (1e9 * len(cnts)), 4)
        got = {r.doc_id: (r.n_tokens, r.nll)
               for r in T.unigram_logprob(df).collect()}
        assert got[0] == (3, fold([2, 2, 2]))
        assert got[1] == (2, fold([2, 1]))
        assert got[2] == (1, fold([1]))
        # rare-token doc scores worse than common-token doc
        assert got[2][1] > got[0][1]
        # exact integer fold => identical under any partitioning
        got16 = {r.doc_id: (r.n_tokens, r.nll)
                 for r in T.unigram_logprob(df.repartition(16)).collect()}
        assert got16 == got

    def test_token_entropy_math_and_partition_independence(self, spark):
        import math

        def h(text):
            ts = [t for t in __import__("re").split(
                "[^a-z0-9]+", text.lower()) if t]
            if not ts:
                return 0, 0.0
            from collections import Counter
            s = sum(math.floor(n * math.log(n) * 1e9)
                    for n in Counter(ts).values())
            return len(ts), round(math.log(len(ts)) - s / (1e9 * len(ts)), 6)

        rows = [(0, "a b c d"),          # all distinct -> ln 4
                (1, "spam spam spam spam"),   # zero entropy
                (2, "x x y y"), (3, "")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: (r.n_tokens, r.entropy)
               for r in T.token_entropy(df).collect()}
        for i, txt in rows:
            assert got[i] == h(txt), (i, got[i], h(txt))
        assert abs(got[0][1] - round(math.log(4), 6)) < 1e-9
        assert got[1][1] == 0.0 and got[3] == (0, 0.0)
        got16 = {r.doc_id: (r.n_tokens, r.entropy)
                 for r in T.token_entropy(df.repartition(16)).collect()}
        assert got16 == got

    def test_hash_feature_quality_math_and_partition_independence(
            self, spark):
        import hashlib

        def w(feat):
            return int(hashlib.md5(
                ("fq1:" + feat).encode()).hexdigest()[:15], 16) % 2001 - 1000

        def score(text):
            ts = [t for t in __import__("re").split(
                "[^a-z0-9]+", text.lower()) if t]
            feats = ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]
            if not feats:
                return 0, 0.5
            x = sum(w(f) for f in feats) / (len(feats) * 1000.0)
            return len(feats), round((x / (1.0 + abs(x)) + 1.0) / 2, 6)

        rows = [(0, "the quick brown fox"), (1, "single"),
                (2, ""), (3, "the the the the")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: (r.n_features, r.quality)
               for r in T.hash_feature_quality(df).collect()}
        for i, txt in rows:
            assert got[i] == score(txt), (i, got[i], score(txt))
        # 4 unigrams + 3 bigrams
        assert got[0][0] == 7
        # empty doc is neutral, kept by the left join
        assert got[2] == (0, 0.5)
        # exact integer fold => identical under any partitioning
        got16 = {r.doc_id: (r.n_features, r.quality)
                 for r in T.hash_feature_quality(df.repartition(16))
                 .collect()}
        assert got16 == got

    def test_winnow_guarantee_and_twin(self, spark):
        from ebel_spark.oracle_docs import WINNOW_K, WINNOW_W
        from ebel_spark.oracle_xxh import spark_xxhash64_str
        shared = "alpha beta gamma delta epsilon zeta eta"  # 7-token run
        rows = [
            (0, "one two three " + shared + " four five six"),
            (1, shared + " seven eight nine ten eleven twelve"),
            (2, "totally unrelated words without any overlap at all here"),
            (3, "tiny"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: set(r.fps)
               for r in T.winnow_fingerprints_df(df).select(
                   "doc_id", "fps").collect()}
        # the single-Column form (test/tiny-input API) must agree
        col_form = {r.doc_id: set(r.fps) for r in df.select(
            "doc_id", T.winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()}
        assert got == col_form
        # winnowing guarantee: a shared run of >= w + k - 1 tokens yields
        # a shared fingerprint
        assert got[0] & got[1]
        assert not (got[0] & got[2])
        # twin parity: pure-Python winnow reproduces the Spark values
        toks = rows[3][1].split()
        assert got[3] == {spark_xxhash64_str(" ".join(toks))}
        toks0 = rows[0][1].split()
        grams = [spark_xxhash64_str(" ".join(toks0[i:i + WINNOW_K]))
                 for i in range(len(toks0) - WINNOW_K + 1)]
        sel = {min(grams[i:i + WINNOW_W])
               for i in range(len(grams) - WINNOW_W + 1)}
        assert got[0] == sel

    def test_bm25_ranking(self, spark):
        rows = [
            (0, "spark shuffle join join join"),          # high tf, short
            (1, "spark shuffle join"),                    # one hit, short
            (2, "join " + "filler " * 50),                # one hit, long
            (3, "no relevant words here at all"),         # no hit
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = T.bm25_topk(df, ["join"], k=10).collect()
        ids = [r.doc_id for r in got]
        assert 3 not in ids                   # non-matching doc excluded
        assert ids[0] == 0                    # highest tf wins
        s = {r.doc_id: r.score for r in got}
        assert s[1] > s[2]                    # length normalization

    def test_quality_monotonic(self, docs):
        rows = {r.doc_id: r.q for r in docs.select(
            "doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
        assert rows[0] > rows[5]
        assert 0 <= rows[2] <= 1


class TestVocabOov:
    def test_vocab_topk_deterministic_boundary(self, spark):
        # counts: apple 3, banana 2, cherry 2, date 1 — at k=2 the
        # boundary tie (banana vs cherry, both 2) must break token-ASC
        df = spark.createDataFrame(
            [(0, "apple banana cherry"),
             (1, "apple banana cherry"),
             (2, "apple date")],
            ["doc_id", "text"])
        v = T.vocab_topk(df, k=2).collect()
        assert [(r.token, r.cnt, r.rank) for r in v] == [
            ("apple", 3, 1), ("banana", 2, 2)]

    def test_oov_counts_occurrences_and_keeps_empty_docs(self, spark):
        df = spark.createDataFrame(
            [(0, "apple apple zebra"),   # 2 in-vocab + 1 oov occurrence
             (1, "zebra zebra"),         # all oov
             (2, "")],                   # zero tokens -> ratio 0.0
            ["doc_id", "text"])
        vocab = spark.createDataFrame([("apple",)], ["token"])
        got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_ratio)
               for r in T.oov_stats(df, vocab).collect()}
        assert got[0] == (3, 1, round(1 / 3, 6))
        assert got[1] == (2, 2, 1.0)
        assert got[2] == (0, 0, 0.0)

    def test_oov_partitioning_independent(self, spark):
        df = spark.range(200).selectExpr(
            "id AS doc_id",
            "concat('tok', CAST(id % 7 AS STRING), ' x y tok',"
            " CAST(id % 3 AS STRING)) AS text")
        v = T.vocab_topk(df, k=3)
        a = {(r.doc_id, r.n_oov, r.oov_ratio)
             for r in T.oov_stats(df, v).collect()}
        b = {(r.doc_id, r.n_oov, r.oov_ratio)
             for r in T.oov_stats(df.repartition(13), T.vocab_topk(
                 df.repartition(13), k=3)).collect()}
        assert a == b


class TestBpeTokens:
    def test_bpe_token_count(self, spark):
        df = spark.createDataFrame(
            [(0, "It's a test-case: don't split 123abc wrongly!"),
             (1, ""), (2, "internationalization")],
            ["i", "t"])
        rows = {r.i: (r.ws, r.bpe) for r in df.select(
            "i",
            T.whitespace_token_count(F.col("t")).alias("ws"),
            T.bpe_token_count(F.col("t")).alias("bpe")).collect()}
        # "It"+"'s"+" a"+" test"+"-"+"case"+":"+" don"+"'t"+" split"
        # +" 123"+"abc"+" wrongly"+"!" -> pieces, ceil(len/4) each
        assert rows[0] == (7, 16)
        assert rows[1] == (0, 0)
        assert rows[2] == (1, 5)   # 20 chars -> 5 subwords


class TestDedup:
    def test_exact(self, docs):
        res = {r.id: r for r in D.exact_dedup(docs, "doc_id", "text").collect()}
        assert res[3].canonical_id == 0 and res[3].is_dup
        assert not res[0].is_dup
        assert not res[1].is_dup  # one word differs

    def test_minhash_lsh_finds_near_dup(self, docs):
        pairs = {(r.a, r.b): r.jaccard for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=32, bands=16, shingle_n=3,
            threshold=0.3).collect()}
        assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
        assert (0, 1) in pairs and 0.3 < pairs[(0, 1)] < 1.0
        assert (0, 2) not in pairs

    def test_containment_catches_quote_that_jaccard_misses(self, spark):
        quoted = "alpha beta gamma delta epsilon zeta eta theta"
        long_doc = ("intro words before the quote " + quoted
                    + " and many many trailing filler words one two three"
                    " four five six seven eight nine ten eleven twelve")
        df = spark.createDataFrame(
            [(0, quoted), (1, long_doc),
             (2, "completely different content with no shared phrasing")],
            ["doc_id", "text"])
        cont = {(r.a, r.b): r.containment
                for r in D.ngram_containment_pairs(
                    df, "doc_id", "text", shingle_n=3,
                    threshold=0.8, max_df=100).collect()}
        jac = {(r.a, r.b) for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.8,
            max_df=100).collect()}
        assert cont[(0, 1)] == 1.0       # every shingle of 0 is inside 1
        assert (0, 1) not in jac         # symmetric Jaccard misses it
        assert (0, 2) not in cont and (1, 2) not in cont

    def test_minhash_matches_exact_jaccard(self, docs):
        mh = {(r.a, r.b): r.jaccard for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=32, bands=16, shingle_n=3,
            threshold=0.3).collect()}
        ex = {(r.a, r.b): r.jaccard for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.3,
            max_df=100).collect()}
        for pair, j in mh.items():   # LSH verified values == exact values
            assert ex[pair] == j

    def test_connected_components_chain_and_singletons(self, spark):
        # chain 1-2-3-4 (tests pointer jumping past direct neighbors),
        # pair 10-11, isolated 20
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 4), (10, 11)], ["a", "b"])
        nodes = spark.createDataFrame([(i,) for i in
                                       (1, 2, 3, 4, 10, 11, 20)], ["id"])
        cc = {r.id: r.cluster_id
              for r in D.connected_components(pairs, nodes).collect()}
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}

    def test_dup_clusters_representative(self, spark):
        df = spark.createDataFrame(
            [(1, "aaaa"), (2, "aaaaaaaa"), (3, "aa"), (4, "bbb")],
            ["doc_id", "text"])
        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
        rows = {r.id: r for r in
                D.dup_clusters(df, pairs, "doc_id", F.length("text"))
                .collect()}
        assert all(rows[i].cluster_id == 1 for i in (1, 2, 3))
        assert rows[4].cluster_id == 4 and rows[4].cluster_size == 1
        assert rows[2].is_rep and not rows[1].is_rep and not rows[3].is_rep
        assert rows[4].is_rep
        assert rows[1].cluster_size == 3

    def test_simhash(self, spark):
        # long documents: a 1-word change flips few simhash bits
        base = " ".join(f"token{i} word{i % 7} filler" for i in range(80))
        near = base.replace("token40", "changed")
        df = spark.createDataFrame(
            [(0, base), (1, near), (2, base), (3, "unrelated short text")],
            ["doc_id", "text"])
        pairs = {(r.a, r.b): r.hamming for r in D.simhash_pairs(
            df, "doc_id", "text", max_hamming=3).collect()}
        assert pairs[(0, 2)] == 0         # identical -> hamming 0
        assert (0, 1) in pairs            # near-dup within 3 bits
        assert (0, 3) not in pairs        # unrelated

    def test_containment_recall_bound_hot_quote(self, spark):
        # a quote embedded verbatim in MORE than max_df docs: every
        # shared shingle is hotter than the cap, so the pairs are missed
        # at small max_df (the documented recall bound) and found once
        # max_df covers the quote's document frequency
        quote = "to be or not to be that is the question"
        rows = [(i, f"doc {i} unique preamble words {i * 7} " + quote)
                for i in range(6)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        capped = D.ngram_containment_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=3)
        assert capped.count() == 0
        uncapped = D.ngram_containment_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=6)
        assert uncapped.count() == 15  # all C(6,2) quote pairs

    def test_simhash_length_band_recall_contract(self, spark):
        # two docs with IDENTICAL simhash but a >2x length gap: the
        # banded (default) blocking never compares them — the documented
        # recall bound — while length_banded=False still finds the pair.
        word = "alpha "
        df = spark.createDataFrame(
            [(0, word * 50), (1, word * 500)], ["doc_id", "text"])
        banded = D.simhash_pairs(df, "doc_id", "text").collect()
        assert banded == []
        full = D.simhash_pairs(df, "doc_id", "text",
                               length_banded=False).collect()
        assert [(r.a, r.b, r.hamming) for r in full] == [(0, 1, 0)]

    def test_simhash_adjacent_band_pair_kept(self, spark):
        # near-identical docs land in the same or adjacent band: kept
        base = " ".join(f"token{i} word{i % 7} filler" for i in range(80))
        near = base + " tail"
        df = spark.createDataFrame([(0, base), (1, near)],
                                   ["doc_id", "text"])
        got = D.simhash_pairs(df, "doc_id", "text").collect()
        assert [(r.a, r.b) for r in got] == [(0, 1)]

    def test_simhash_hamming1_wide_chunks(self, spark):
        # max_hamming=1 -> 2 x 32-bit pigeonhole chunks (4.3B keys, the
        # web-scale layout): hamming-0/1 pairs still found, hamming-2+
        # dropped by the tighter budget
        base = " ".join(f"token{i} word{i % 7} filler" for i in range(80))
        near = base.replace("token40", "changed")
        df = spark.createDataFrame(
            [(0, base), (1, near), (2, base)], ["doc_id", "text"])
        h3 = {(r.a, r.b): r.hamming for r in D.simhash_pairs(
            df, "doc_id", "text", max_hamming=3).collect()}
        h1 = {(r.a, r.b): r.hamming for r in D.simhash_pairs(
            df, "doc_id", "text", max_hamming=1).collect()}
        assert h1[(0, 2)] == 0
        expect_01 = (0, 1) in h3 and h3[(0, 1)] <= 1
        assert ((0, 1) in h1) == expect_01
        assert all(v <= 1 for v in h1.values())


class TestEditDistance:
    def test_editdist_pairs_band_recall(self, spark):
        # pairs straddling a band boundary in BOTH id orders: the lossless
        # claim requires recall whichever side has the smaller id
        rows = [
            (1, "a" * 11),   # band(len=11, B=6) = 1
            (2, "a" * 13),   # band 2; dist(1,2)=2, bands differ by 1
            (3, "b" * 13),   # band 2
            (4, "b" * 11),   # band 1; dist(3,4)=2, smaller-id doc in
                             # the HIGHER band — the r3 regression case
            (5, "c" * 40),   # far from everything
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {(r.a, r.b): r.dist
               for r in D.editdist_pairs(df, "doc_id", "text",
                                         max_dist=5).collect()}
        assert got[(1, 2)] == 2 and got[(3, 4)] == 2
        assert (1, 4) not in got or got[(1, 4)] <= 5  # a/b all-a vs all-b
        assert all(a < b for a, b in got)
        assert not any(5 in p for p in got)

    def test_editdist_matches_bruteforce(self, docs):
        import itertools
        got = {(r.a, r.b): r.dist
               for r in D.editdist_pairs(docs, "doc_id", "text",
                                         max_dist=10).collect()}
        def lev(s, t):
            prev = list(range(len(t) + 1))
            for i, cs in enumerate(s, 1):
                cur = [i]
                for j, ct in enumerate(t, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (cs != ct)))
                prev = cur
            return prev[-1]
        want = {}
        for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
            d = lev(ta, tb)
            if d <= 10:
                want[(ia, ib)] = d
        assert got == want

    def test_editdist_extra_key_blocks_across_groups(self, spark):
        # extra_key referencing a SOURCE column must resolve (r3 review
        # fix: the key is evaluated before the narrow projection), and
        # near-identical docs in different groups must NOT pair
        from pyspark.sql import functions as F
        rows = [
            (1, "a" * 12, "en"),
            (2, "a" * 13, "en"),   # dist 1, same group -> pair
            (3, "a" * 12, "de"),   # dist 0 vs doc 1, other group -> no pair
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "language"])
        got = {(r.a, r.b) for r in D.editdist_pairs(
            df, "doc_id", "text", max_dist=5,
            extra_key=F.col("language")).collect()}
        assert got == {(1, 2)}

    def test_dup_shingle_fraction(self, spark):
        rows = [
            (1, "the quick brown fox jumps high"),
            (2, "the quick brown fox sleeps now"),
            (3, "unrelated words entirely different things here"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.id: r for r in
               D.dup_shingle_stats(df, "doc_id", "text",
                                   shingle_n=3).collect()}
        # docs 1 and 2 share exactly the shingles "the quick brown" and
        # "quick brown fox" (2 of each doc's 4 shingles)
        assert out[1].n_shingles == 4 and out[1].n_dup_shingles == 2
        assert out[2].n_dup_shingles == 2
        assert abs(out[1].dup_fraction - 0.5) < 1e-9
        assert out[3].n_dup_shingles == 0 and out[3].dup_fraction == 0.0

    def test_dup_span_stats(self, spark):
        rows = [
            # docs 1/2 share the 6-token run "alpha beta gamma delta
            # epsilon zeta" -> with span_len=3 it decomposes into 4 dup
            # grams covering one merged region of 6 positions
            (1, "alpha beta gamma delta epsilon zeta unique1 unique2"),
            (2, "prefix words here alpha beta gamma delta epsilon zeta "
                "trailer"),
            # no shared grams at all
            (3, "nothing shared at all in this text"),
            # two SEPARATED shared runs -> 2 merged regions
            (4, "alpha beta gamma filler1 filler2 delta epsilon zeta"),
            # within-doc repetition only: repeated grams live in ONE doc,
            # so min_docs=2 distinct docs must NOT flag them
            (7, "repeat me repeat me repeat me"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.id: r for r in D.dup_span_stats(
            df, "doc_id", "text", span_len=3).collect()}
        d1 = out[1]
        assert (d1.n_tokens, d1.n_dup_spans, d1.n_dup_tokens,
                d1.n_dup_regions) == (8, 4, 6, 1)
        assert abs(d1.dup_token_fraction - 0.75) < 1e-9
        d2 = out[2]
        assert (d2.n_dup_tokens, d2.n_dup_regions) == (6, 1)
        assert abs(d2.dup_token_fraction - 0.6) < 1e-9
        assert out[3].n_dup_tokens == 0 and out[3].n_dup_regions == 0
        d4 = out[4]
        assert (d4.n_dup_tokens, d4.n_dup_regions) == (6, 2)
        assert out[7].n_dup_spans == 0 and out[7].dup_token_fraction == 0.0

    def test_dup_span_stats_degenerate_short_docs(self, spark):
        # two identical docs SHORTER than span_len flag each other via the
        # whole-doc pseudo-span covering every token
        rows = [(1, "tiny pair"), (2, "tiny pair"), (3, "other words")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.id: r for r in D.dup_span_stats(
            df, "doc_id", "text", span_len=5).collect()}
        assert out[1].n_dup_spans == 1 and out[1].n_dup_tokens == 2
        assert out[1].n_dup_regions == 1
        assert abs(out[1].dup_token_fraction - 1.0) < 1e-9
        assert out[3].n_dup_tokens == 0


class TestBlockingLinearity:
    """VERDICT r2 item 5: with corpus-sized blocking (auto_nbits /
    auto_nlist) the CANDIDATE-set size must grow ~linearly in n, not
    quadratically as with a fixed block count."""

    @staticmethod
    def _rand_vecs(spark, n, dim=8, seed=3):
        rng = np.random.RandomState(seed)
        mat = rng.randn(n, dim).astype("float32")
        return spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(n)],
            ["vec_id", "embedding"])

    @staticmethod
    def _pair_count(bucketed, key):
        from pyspark.sql import functions as F
        return (bucketed.groupBy(key).count()
                .select(F.sum(F.col("count") * (F.col("count") - 1) / 2)
                        .alias("p")).collect()[0]["p"]) or 0.0

    def test_lsh_candidates_scale_linearly(self, spark):
        dim, small, big = 8, 300, 3000
        counts = {}
        for n in (small, big):
            df = self._rand_vecs(spark, n, dim)
            nbits = X.auto_nbits(n, target_bucket=8)
            planes = X.hyperplanes(dim, nbits, seed=42)
            b = X.with_lsh_bucket(df, planes, dim)
            counts[n] = self._pair_count(b, "bucket")
        growth = counts[big] / max(counts[small], 1.0)
        # ~linear modulo ceil-quantization of nbits and sign-bit bucket
        # skew (measured ~38x for 10x data); the fixed-nbits control
        # below grows the full quadratic ~100x
        assert growth < 55, counts
        df = self._rand_vecs(spark, big, dim)
        fixed = X.with_lsh_bucket(
            df, X.hyperplanes(dim, X.auto_nbits(small, target_bucket=8),
                              seed=42), dim)
        assert counts[big] < self._pair_count(fixed, "bucket") / 2, counts

    def test_ivf_candidates_scale_linearly(self, spark):
        dim, small, big = 8, 300, 3000
        counts = {}
        for n in (small, big):
            df = self._rand_vecs(spark, n, dim)
            nlist = X.auto_nlist(n, target_list=32)
            cents = X.ivf_train_centroids(df, nlist, dim, iters=1)
            assigned = X.with_nearest_lists(df, cents, dim, 1) \
                .select(F.col("lists")[0].alias("list_id"))
            counts[n] = self._pair_count(assigned, "list_id")
        growth = counts[big] / max(counts[small], 1.0)
        assert growth < 30, counts


class TestVectors:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.RandomState(7)
        base = rng.randn(10, 16).astype("float32")
        rows = []
        for i, v in enumerate(base):
            rows.append((i, [float(x) for x in v], 0))
        # 10..14 are tiny perturbations of 0..4 -> near dups
        for i in range(5):
            v = base[i] + rng.randn(16).astype("float32") * 0.01
            rows.append((10 + i, [float(x) for x in v], 1))
        return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    def test_brute_topk_matches_numpy(self, vecs):
        rows = vecs.collect()
        mat = {r.vec_id: np.array(r.embedding) for r in rows}
        got = X.brute_force_topk(vecs, vecs.filter("vec_id = 0"), k=1).collect()
        assert len(got) == 1
        best = got[0]
        # numpy oracle
        q = mat[0]
        sims = {i: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
                for i, v in mat.items() if i != 0}
        expect = max(sims, key=lambda i: (sims[i], -i))
        assert best.corpus_id == expect == 10
        assert abs(best.cosine - sims[expect]) < 1e-4

    def test_lsh_finds_near_dup(self, vecs):
        got = X.lsh_topk(vecs, vecs.filter("vec_id < 5"), dim=16, k=1,
                         nbits=4).collect()
        hits = {r.query_id: r.corpus_id for r in got}
        # perturbed twins land in the same bucket for most queries
        assert sum(1 for qid, cid in hits.items() if cid == qid + 10) >= 3

    def test_ivf_full_probe_equals_brute_force(self, vecs):
        # probing every list must reproduce the exact result
        exact = sorted(tuple(r) for r in X.brute_force_topk(
            vecs, vecs.filter("vec_id < 5"), k=3).collect())
        ivf = sorted(tuple(r) for r in X.ivf_topk(
            vecs, vecs.filter("vec_id < 5"), dim=16, k=3,
            nlist=4, nprobe=4).collect())
        assert ivf == exact

    def test_cluster_sample_invariants(self, spark):
        from ebel_spark.queries import QUERIES
        fn, _ = QUERIES["embedding_cluster_sample"]
        got = fn(spark, SF).collect()
        n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
        assert len(got) == n                      # every vector reported
        by_cluster: dict = {}
        for r in got:
            by_cluster.setdefault(r.cluster_id, []).append(r)
        for cid, rows in by_cluster.items():
            ranks = sorted(r.rnk for r in rows)
            assert ranks == list(range(1, len(rows) + 1))   # dense ranks
            assert all(r.cluster_n == len(rows) for r in rows)
            kept = sum(1 for r in rows if r.keep)
            assert kept == min(16, len(rows))     # the per-cluster cap
            assert all(r.keep == (r.rnk <= 16) for r in rows)

    def test_pq_topk_finds_planted_near_dup(self, vecs):
        # a near-identical vector quantizes to (mostly) the same codes,
        # so ADC ranks it first for most queries
        got = X.pq_topk(vecs, vecs.filter("vec_id < 5"), dim=16, k=1,
                        m=4, ksub=4, iters=1).collect()
        hits = {r.query_id: r.corpus_id for r in got}
        assert sum(1 for qid, cid in hits.items() if cid == qid + 10) >= 3
        # deterministic across runs (exact scaled-long scores)
        again = X.pq_topk(vecs, vecs.filter("vec_id < 5"), dim=16, k=1,
                          m=4, ksub=4, iters=1).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    def test_ivfpq_full_probe_equals_pq_and_finds_planted(self, vecs):
        q = vecs.filter("vec_id < 5")
        # nprobe == nlist -> every list probed -> candidate set equals
        # the flat PQ scan, so the composed ranking must be pq_topk's
        full = X.ivfpq_topk(vecs, q, dim=16, k=2, nlist=2, nprobe=2,
                            m=4, ksub=4, iters=1, pq_iters=1).collect()
        flat = X.pq_topk(vecs, q, dim=16, k=2, m=4, ksub=4,
                         iters=1).collect()
        assert sorted(map(tuple, full)) == sorted(map(tuple, flat))
        # the planted near-dup (qid+10) quantizes to the same IVF list
        # and (mostly) the same codes, so it wins even at nprobe=1
        got = X.ivfpq_topk(vecs, q, dim=16, k=1, nlist=2, nprobe=1,
                           m=4, ksub=4, iters=1, pq_iters=1).collect()
        hits = {r.query_id: r.corpus_id for r in got}
        assert sum(1 for qid, cid in hits.items() if cid == qid + 10) >= 3
        # deterministic across runs (exact scaled-long scores)
        again = X.ivfpq_topk(vecs, q, dim=16, k=1, nlist=2, nprobe=1,
                             m=4, ksub=4, iters=1, pq_iters=1).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    def test_topk_recall(self, spark):
        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (1, 12),
             (2, 20), (2, 21), (2, 22),
             (3, 30), (3, 31), (3, 32)], ["query_id", "corpus_id"])
        approx = spark.createDataFrame(
            # q1: all three; q2: one hit + one false positive; q3 absent
            [(1, 10), (1, 11), (1, 12), (2, 20), (2, 99)],
            ["query_id", "corpus_id"])
        got = {r.query_id: (r.n_hit, r.recall)
               for r in X.topk_recall(approx, exact, k=3).collect()}
        assert got[1] == (3, 1.0)
        assert got[2] == (1, round(1 / 3.0, 6))
        assert got[3] == (0, 0.0)

    def test_pq_topk_string_ids(self, spark, vecs):
        # id generality (r3 review fix): string keys, accepted by every
        # other *_topk operator, must work and keep their type
        from pyspark.sql import functions as F
        svecs = vecs.select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"),
            "embedding", "label")
        got = X.pq_topk(svecs, svecs.filter("vec_id IN ('v0','v1')"),
                        dim=16, k=1, m=4, ksub=4, iters=1).collect()
        assert {r.query_id for r in got} == {"v0", "v1"}
        assert all(isinstance(r.corpus_id, str) for r in got)

    def test_ivf_memo_invalidated_by_rewrite(self, spark, vecs, tmp_path):
        # the model memo keys on plan + input FILES: rewriting the same
        # path must retrain, not return the stale model (r3 review fix)
        import numpy as np
        p = str(tmp_path / "vecs.parquet")
        vecs.write.mode("overwrite").parquet(p)
        a = X.ivf_train_centroids(spark.read.parquet(p), nlist=2, dim=16)
        rng = np.random.RandomState(99)
        other = spark.createDataFrame(
            [(100 + i, [float(x) for x in rng.randn(16)], 0)
             for i in range(10)], ["vec_id", "embedding", "label"])
        other.write.mode("overwrite").parquet(p)
        b = X.ivf_train_centroids(spark.read.parquet(p), nlist=2, dim=16)
        assert a != b

    def test_pq_codebook_matches_python_twin(self, vecs):
        from ebel_spark.oracle_docs import _pq_model_py
        pdf = vecs.select("vec_id", "embedding").toPandas()
        want = _pq_model_py(pdf, dim=16, m=4, ksub=4, iters=1)
        X._IVF_MODEL_MEMO.clear()
        got = X.pq_train(vecs, dim=16, m=4, ksub=4, iters=1)
        assert got == want  # bit-identical, not approximately equal

    def test_ivf_small_probe_recall(self, vecs):
        got = X.ivf_topk(vecs, vecs.filter("vec_id < 5"), dim=16, k=1,
                         nlist=4, nprobe=1).collect()
        hits = {r.query_id: r.corpus_id for r in got}
        # a perturbed twin shares its original's nearest list
        assert sum(1 for qid, cid in hits.items() if cid == qid + 10) >= 4

    def test_ivf_centroids_partitioning_independent(self, vecs):
        # the exact scaled-integer Lloyd update must make the trained
        # model bit-identical no matter how the corpus is partitioned —
        # the property the driver-side oracle twin depends on
        c1 = X.ivf_train_centroids(vecs.repartition(1), nlist=4, dim=16)
        c16 = X.ivf_train_centroids(vecs.repartition(16), nlist=4, dim=16)
        assert c1 == c16

    def test_ivf_centroids_match_python_twin(self, vecs):
        import pandas as pd

        from ebel_spark.oracle_docs import _ivf_centroids_py

        rows = vecs.select("vec_id", "embedding").collect()
        pdf = pd.DataFrame({"vec_id": [r.vec_id for r in rows],
                            "embedding": [r.embedding for r in rows]})
        spark_c = X.ivf_train_centroids(vecs, nlist=4, dim=16)
        twin_c = _ivf_centroids_py(pdf, nlist=4, dim=16, iters=2)
        assert spark_c == twin_c

    def test_dup_pairs(self, vecs):
        pairs = {(r.a, r.b) for r in X.embedding_cosine_dup_pairs(
            vecs, threshold=0.99, dim=16, nbits=4).collect()}
        assert all(b == a + 10 for a, b in pairs)
        assert len(pairs) >= 3

    def test_ivf_dup_pairs_subset_of_exact_and_finds_twins(self, vecs):
        got = {(r.a, r.b): r.cosine for r in X.ivf_dup_pairs(
            vecs, threshold=0.99, dim=16, nlist=4).collect()}
        # exact all-pairs oracle
        rows = vecs.collect()
        mat = {r.vec_id: np.array(r.embedding) for r in rows}
        exact = {}
        for a in mat:
            for b in mat:
                if a < b:
                    c = float(mat[a] @ mat[b] /
                              (np.linalg.norm(mat[a]) * np.linalg.norm(mat[b])))
                    if c >= 0.99:
                        exact[(a, b)] = c
        # cluster blocking never invents pairs...
        assert set(got) <= set(exact)
        for k, c in got.items():
            assert abs(c - exact[k]) < 1e-3
        # ...and a 0.99-cosine twin shares its original's nearest
        # centroid, so recall on the planted twins is total here
        assert set(got) == set(exact) and len(got) >= 3


class TestAsofJoin:
    @pytest.fixture(scope="class")
    def tables(self, spark):
        from datetime import datetime as dt
        left = spark.createDataFrame(
            [(1, 10, dt(2024, 1, 1, 0, 0, 5)),
             (2, 10, dt(2024, 1, 1, 0, 0, 10)),   # exact tie with right ts
             (3, 10, dt(2024, 1, 1, 0, 0, 1)),    # before any right row
             (4, 20, dt(2024, 1, 1, 2, 0, 0))],   # far after right row
            ["event_id", "user_id", "ts"])
        right = spark.createDataFrame(
            [(100, 10, dt(2024, 1, 1, 0, 0, 2)),
             (101, 10, dt(2024, 1, 1, 0, 0, 10)),
             (102, 20, dt(2024, 1, 1, 0, 0, 0))],
            ["state_id", "user_id", "ts"])
        return left, right

    def test_backward_inclusive(self, tables):
        from ebel_spark.ops.temporal import asof_join
        left, right = tables
        got = {r.event_id: r.r_state_id for r in asof_join(
            left, right, by=["user_id"], ts="ts",
            right_payload=["state_id"]).collect()}
        assert got == {1: 100, 2: 101, 3: None, 4: 102}

    def test_tolerance_voids_stale_match(self, tables):
        from ebel_spark.ops.temporal import asof_join
        left, right = tables
        rows = {r.event_id: r for r in asof_join(
            left, right, by=["user_id"], ts="ts",
            right_payload=["state_id"], tolerance_s=60).collect()}
        assert rows[1].r_state_id == 100       # 3 s old: inside tolerance
        assert rows[4].r_state_id is None      # 2 h old: voided
        assert rows[4].r_ts is None

    def test_matched_ts_column(self, tables):
        from ebel_spark.ops.temporal import asof_join
        left, right = tables
        rows = {r.event_id: r for r in asof_join(
            left, right, by=["user_id"], ts="ts",
            right_payload=["state_id"]).collect()}
        assert rows[2].r_ts == rows[2].ts      # exact-tie match is inclusive
        assert rows[3].r_ts is None


class TestMultimodal:
    def test_feature_extraction(self, spark, docs):
        assets = synth_assets(docs, "doc_id", "text")
        feats = {r.asset_id: r for r in extract_features(assets).collect()}
        assert len(feats) == 6
        f0 = feats[0]
        assert len(f0.features) == 16
        assert abs(sum(f0.features) - 1.0) < 1e-5
        assert feats[5].n_bytes == 0
        assert sum(feats[5].features) == 0.0

    def test_real_decode_is_stubbed(self, spark, docs):
        assets = synth_assets(docs, "doc_id", "text")
        with pytest.raises(Exception):  # NotImplementedError inside worker
            extract_features(assets, real=True).collect()

    def test_frame_plan_and_resize(self, spark, docs):
        assets = synth_assets(docs, "doc_id", "text")
        plans = frame_sample_plan(assets, fps=1.0, max_frames=4).collect()
        assert plans and all(
            list(p.frame_offsets_ms) ==
            sorted(set(p.frame_offsets_ms)) for p in plans)
        rs = resize_spec(assets, target=224).collect()
        assert rs and all(min(r.new_width, r.new_height) == 224 for r in rs)


class TestSampling:
    """Behavioral invariants of the deterministic sampling/packing ops."""

    @pytest.fixture()
    def real_docs(self, spark):
        return spark.read.parquet(f"{SF}/documents.parquet")

    def test_split_is_stable_under_corpus_growth(self, spark, real_docs):
        from ebel_spark.ops import sample as S
        full = S.split_assign(real_docs, "doc_id").select("doc_id", "split")
        half = S.split_assign(
            real_docs.where("doc_id % 2 = 0"), "doc_id"
        ).select("doc_id", "split")
        joined = full.alias("f").join(half.alias("h"), "doc_id")
        assert joined.where("f.split <> h.split").count() == 0

    def test_weighted_sample_rate(self, spark):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        df = spark.range(20000).select(
            F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
        kept = S.weighted_sample(df, {"en": 0.25}).count()
        assert abs(kept / 20000 - 0.25) < 0.02

    def test_weighted_topk_sample(self, spark):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        # ids 0..999 weight 1, ids 1000..1099 weight 1000: the heavy tail
        # must dominate the sample and the draw must be reproducible
        df = spark.range(1100).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") >= 1000, F.lit(1000))
             .otherwise(F.lit(1)).alias("w"))
        got = S.weighted_topk_sample(df, F.col("w"), k=50)
        rows = got.collect()
        assert len(rows) == 50
        heavy = sum(1 for r in rows if r.doc_id >= 1000)
        assert heavy >= 40            # ~1000x odds per heavy row
        again = {r.doc_id for r in
                 S.weighted_topk_sample(df, F.col("w"), k=50).collect()}
        assert again == {r.doc_id for r in rows}

    def test_pack_bins_budget(self, spark, real_docs):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        packed = S.pack_bins(real_docs, F.col("n_chars"), budget=5000)
        agg = packed.groupBy("source", "bin_id").agg(
            F.sum("cost").alias("fill"), F.max("cost").alias("mx")).collect()
        # contiguous-fill: a bin exceeds budget only by (part of) its last doc
        assert all(r.fill < 5000 + r.mx for r in agg)
        # bin ids are dense per source starting at 0
        first = packed.groupBy("source").agg(
            F.min("bin_id").alias("mn")).collect()
        assert all(r.mn == 0 for r in first)

    def test_shuffle_shards_is_permutation(self, spark, real_docs):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        n = real_docs.count()
        s = S.shuffle_shards(real_docs, n_shards=8)
        assert s.count() == n                       # a permutation: no loss
        # positions are dense 0..count-1 within every shard
        agg = s.groupBy("shard").agg(
            F.min("pos").alias("mn"), F.max("pos").alias("mx"),
            F.count(F.lit(1)).alias("c")).collect()
        assert all(r.mn == 0 and r.mx == r.c - 1 for r in agg)
        assert {r.shard for r in agg} <= set(range(8))
        # reproducible across runs
        a = {(r.doc_id, r.shard, r.pos)
             for r in S.shuffle_shards(real_docs, n_shards=8).collect()}
        b = {(r.doc_id, r.shard, r.pos) for r in s.collect()}
        assert a == b

    def test_seq_pack_stream_contiguity(self, spark, real_docs):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        L = 128
        p = S.seq_pack(real_docs, F.col("n_chars"), seq_len=L, n_shards=8)
        rows = p.collect()
        by_shard: dict = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, rs in by_shard.items():
            rs.sort(key=lambda r: r.start_off)
            # the shard is ONE contiguous token stream: each doc starts
            # exactly where the previous one ended
            off = 0
            for r in rs:
                assert r.start_off == off
                off += r.cost
                # window span is the chunking of [start, start+cost)
                assert r.seq_first == r.start_off // L
                assert r.seq_off == r.start_off % L
                if r.cost > 0:
                    assert r.seq_last == (r.start_off + r.cost - 1) // L
                    assert r.n_seqs == r.seq_last - r.seq_first + 1
                else:
                    assert r.n_seqs == 0 and r.seq_last == r.seq_first
        # boundary straddles exist at this seq_len (docs avg ~300 chars)
        assert any(r.n_seqs > 1 for r in rows)

    def test_seq_pack_partitioning_independent(self, spark, real_docs):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        a = {tuple(r) for r in S.seq_pack(
            real_docs, F.col("n_chars"), 64, n_shards=4).collect()}
        b = {tuple(r) for r in S.seq_pack(
            real_docs.repartition(17), F.col("n_chars"), 64,
            n_shards=4).collect()}
        assert a == b

    def test_budget_slice_respects_budget(self, spark, real_docs):
        from ebel_spark.ops import sample as S
        from pyspark.sql import functions as F
        sl = S.budget_slice(real_docs, F.col("n_chars"), budget=20000)
        per = sl.groupBy("source").agg(
            F.max("cum_cost").alias("mx"),
            F.sum("cost").alias("total")).collect()
        assert per and all(r.mx <= 20000 and r.total == r.mx for r in per)
        # stability: a second evaluation selects the same documents
        a = {r.doc_id for r in sl.collect()}
        b = {r.doc_id for r in
             S.budget_slice(real_docs, F.col("n_chars"),
                            budget=20000).collect()}
        assert a == b

    def test_repetition_detects_repeats(self, spark):
        from ebel_spark.ops import text as T
        from pyspark.sql import functions as F
        df = spark.createDataFrame(
            [(1, "spam spam spam spam"), (2, "all words here differ")],
            ["doc_id", "text"])
        d1, d2 = T.repetition_ratios(F.col("text"))
        rows = {r.doc_id: r for r in df.select(
            "doc_id", d1.alias("r1"), d2.alias("r2")).collect()}
        assert rows[1].r1 == 0.75 and rows[1].r2 == pytest.approx(2 / 3)
        assert rows[2].r1 == 0.0 and rows[2].r2 == 0.0

    def test_chunking_boundaries(self, spark):
        from ebel_spark.ops import text as T
        words = " ".join(f"w{i}" for i in range(450))
        df = spark.createDataFrame([(1, words), (2, ""), (3, "one two")],
                                   ["doc_id", "text"])
        rows = T.chunk_texts(df, chunk_tokens=200).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert sorted(r.n_tokens for r in by_doc[1]) == [50, 200, 200]
        assert 2 not in by_doc                      # empty doc: no chunks
        assert [r.n_tokens for r in by_doc[3]] == [2]
        assert len({r.chunk_sha for r in rows}) == len(rows)

    def test_contamination_flags_eval_copy(self, spark):
        from ebel_spark.ops import text as T
        ev = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta eta theta")],
            ["doc_id", "text"])
        tr = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),  # copy
             (2, "totally unrelated words that never appear anywhere")],
            ["doc_id", "text"])
        got = {r.doc_id: r.overlap
               for r in T.contamination(tr, ev, min_overlap=0.5).collect()}
        assert got == {1: 1.0}

    def test_pii_scrub_counts_and_text(self, spark):
        from ebel_spark.ops import text as T
        from pyspark.sql import functions as F
        df = spark.createDataFrame(
            [(1, "mail a.b@x.io and c@y.org ip 10.0.0.1 tel 555-0199")],
            ["doc_id", "text"])
        scrubbed, n_em, n_ip, n_ph = T.pii_scrub(F.col("text"))
        r = df.select(scrubbed.alias("t"), n_em.alias("e"), n_ip.alias("i"),
                      n_ph.alias("p")).collect()[0]
        assert (r.e, r.i, r.p) == (2, 1, 1)
        assert r.t == "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE>"


class TestContractInline:
    """Spot-check three representative oracle pairs at sf0.001."""

    NAMES = ["pricing_summary", "doc_token_counts", "ann_brute_topk",
             "ann_ivf_exact_topk", "multimodal_byte_stats",
             "doc_split_assign", "doc_pack_bins", "doc_repetition",
             "doc_pii_scrub", "corpus_frequent_ngrams",
             "events_asof_join", "multimodal_features",
             "doc_tfidf_topk", "doc_source_stats", "doc_unigram_logprob",
             "doc_vocab_oov"]

    @staticmethod
    def _norm(cols, rows):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])

        def cell(v):
            if isinstance(v, float):
                return f"{v:.6g}"
            return "" if v is None else str(v)

        return sorted(tuple(cell(r[i]) for i in idx) for r in rows)

    def test_oracle_agreement(self, spark):
        from ebel_spark.queries import QUERIES
        con = duckdb.connect()
        for t in ["lineitem", "documents", "embeddings", "events"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
        for name in self.NAMES:
            fn, sql = QUERIES[name]
            sdf = fn(spark, SF)
            srows = self._norm(sdf.columns, [tuple(r) for r in sdf.collect()])
            res = con.sql(sql)
            orows = self._norm(list(res.columns), res.fetchall())
            assert srows == orows, name


class TestSkew:
    def test_salted_join_matches_plain_join(self, spark):
        from ebel_spark.ops.skew import salted_join
        from pyspark.sql import functions as F
        # heavy hitter: key 7 carries half the fact rows
        fact = spark.range(10000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
             .otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("row_id"))
        dim = spark.range(100).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("payload"))
        got = salted_join(fact, dim, on="k", salt_from="row_id",
                          n_salts=8)
        plain = fact.join(dim, "k")
        assert got.count() == plain.count()
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0

    def test_salted_left_join_keeps_unmatched(self, spark):
        from ebel_spark.ops.skew import salted_join
        from pyspark.sql import functions as F
        fact = spark.createDataFrame(
            [(1, 10), (2, 20), (99, 30)], ["k", "row_id"])
        dim = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "payload"])
        got = salted_join(fact, dim, on="k", salt_from="row_id",
                          n_salts=4, how="left").collect()
        by_k = {r.k: r.payload for r in got}
        assert len(got) == 3 and by_k[99] is None


class TestDsir:
    def _docs(self, spark):
        rows = [
            # target-domain docs talk about cats; off-domain about quarks
            (1, "the cat sat on the mat with the cat", "en"),
            (2, "cat and cat and more cat here", "en"),
            (3, "quark gluon plasma quark lattice", "de"),
            (4, "quark quark gluon field theory", "de"),
            (5, "cat quark mixed content doc", "fr"),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string")

    def test_target_like_docs_score_higher(self, spark):
        d = self._docs(spark)
        got = {r["doc_id"]: r["log_weight"]
               for r in T.dsir_importance(
                   d, target=F.col("lang") == "en").collect()}
        # pure-target docs beat the mixed doc, which beats pure off-domain
        assert got[1] > got[5] > got[3]
        assert got[2] > got[4]

    def test_partitioning_independent(self, spark):
        d = self._docs(spark)
        a = sorted(map(tuple, T.dsir_importance(
            d, target=F.col("lang") == "en").collect()))
        b = sorted(map(tuple, T.dsir_importance(
            d.repartition(7), target=F.col("lang") == "en").collect()))
        assert a == b

    def test_uniform_target_gives_zero_weights(self, spark):
        # target == everything: p_t == p_r exactly, all log-ratios 0
        d = self._docs(spark)
        rows = T.dsir_importance(d, target=F.lit(True)).collect()
        assert rows and all(r["log_weight"] == 0.0 for r in rows)


class TestGopherRules:
    def test_rule_components_and_verdict(self, spark):
        good = "The quick brown fox jumps with energy and grace. " * 12
        bullets = "\n".join("- item %d" % i for i in range(20))
        symbols = ("# " * 60) + "the be to of and that have with"
        short = "too short to keep"
        d = spark.createDataFrame(
            [(1, good), (2, bullets), (3, symbols), (4, short)],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in T.gopher_rules(d).collect()}
        assert got[1]["keep"] is True
        assert got[2]["bullet_frac"] == 1.0 and got[2]["keep"] is False
        assert got[3]["symbol_ratio"] > 0.1 and got[3]["keep"] is False
        assert got[4]["n_words"] < 50 and got[4]["keep"] is False

    def test_stop_hits_counts_distinct_required_stops(self, spark):
        d = spark.createDataFrame(
            [(1, "the the the"), (2, "the be to of")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["stop_hits"]
               for r in T.gopher_rules(d).collect()}
        assert got == {1: 1, 2: 4}


class TestGumbelTopk:
    def test_extreme_weights_dominate_and_deterministic(self, spark):
        from ebel_spark.ops import sample as S2
        # 5 docs with log-weight 50 (astronomically favored) + 45 at -50
        rows = [(i, 50.0 if i < 5 else -50.0) for i in range(50)]
        d = spark.createDataFrame(rows, "doc_id long, log_weight double")
        got = S2.gumbel_topk_sample(d, F.col("log_weight"), k=5).collect()
        assert sorted(r["doc_id"] for r in got) == [0, 1, 2, 3, 4]
        again = S2.gumbel_topk_sample(
            d.repartition(7), F.col("log_weight"), k=5).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))


class TestCcnetBuckets:
    def test_per_lang_terciles_and_labels(self, spark):
        rows = []
        # 6 english docs with strictly increasing repetition of a rare
        # token -> strictly ordered nll; 3 german docs
        for i in range(6):
            rows.append((i, "common words here " * 3 + f"rare{i} " * (i + 1),
                         "en"))
        for i in range(6, 9):
            rows.append((i, "deutsche worte hier " * (i - 4), "de"))
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {r["doc_id"]: r for r in T.ccnet_buckets(d).collect()}
        # each lang gets its own independent tiles
        en = [got[i]["bucket"] for i in sorted(got) if got[i]["lang"] == "en"]
        assert sorted(set(en)) == ["head", "middle", "tail"]
        assert en.count("head") == 2 and en.count("tail") == 2
        de = [got[i]["bucket"] for i in sorted(got) if got[i]["lang"] == "de"]
        assert sorted(set(de)) == ["head", "middle", "tail"]

    def test_bucket_follows_nll_order_within_lang(self, spark):
        rows = [(i, "x " * 5 + f"tok{i} " * (i + 1), "en") for i in range(6)]
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        by_nll = sorted(T.ccnet_buckets(d).collect(), key=lambda r: (r["nll"], r["doc_id"]))
        idxs = [r["bucket_idx"] for r in by_nll]
        assert idxs == sorted(idxs)


class TestGopherEdgeCases:
    def test_empty_and_whitespace_docs_do_not_crash_and_drop(self, spark):
        d = spark.createDataFrame(
            [(1, ""), (2, "   \n  \t "), (3, "the be to of " * 20)],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in T.gopher_rules(d).collect()}
        assert got[1]["n_words"] == 0 and got[1]["keep"] is False
        assert got[2]["n_words"] == 0 and got[2]["keep"] is False
        assert got[1]["mean_word_len"] is None
        assert got[3]["keep"] is False  # mean_word_len 2.5 < 3 bound

    def test_ascii_ellipsis_counts_as_symbol(self, spark):
        text = ("what... really... is... this... even... saying... " * 10
                + "the be to of and that have with")
        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = T.gopher_rules(d).collect()[0]
        assert r["symbol_ratio"] > 0.1 and r["keep"] is False


class TestLineDedup:
    def test_hot_lines_dropped_order_kept(self, spark):
        from ebel_spark.ops.dedup import line_dedup
        boiler = "x y z"
        rows = [(i, f"u{i} v{i} w{i} {boiler} p{i} q{i}") for i in range(4)]
        rows.append((99, ""))  # empty doc must survive with n_kept=0
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               line_dedup(df, "doc_id", "text", line_words=3,
                          max_count=3).collect()}
        assert len(out) == 5
        # each doc: 8 words -> 3 lines; the middle line "x y z" occurs 4x
        # across the corpus (> max_count) so every occurrence is dropped
        for i in range(4):
            r = out[i]
            assert r["n_lines"] == 3 and r["n_kept"] == 2
            assert r["kept_text"] == f"u{i} v{i} w{i} p{i} q{i}"
        assert out[99]["n_lines"] == 0 and out[99]["n_kept"] == 0
        assert out[99]["kept_text"] == ""

    def test_below_threshold_untouched(self, spark):
        from ebel_spark.ops.dedup import line_dedup
        rows = [(i, "a b c d e f") for i in range(3)]  # line df == 3, not >3
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = line_dedup(df, "doc_id", "text", line_words=3,
                         max_count=3).collect()
        assert all(r["n_kept"] == 2 and r["kept_text"] == "a b c d e f"
                   for r in out)


class TestBoundaryOverlap:
    def test_suffix_matches_prefix(self, spark):
        from ebel_spark.ops.dedup import boundary_overlap_pairs
        df = spark.createDataFrame(
            [(1, "aa bb cc dd ee"),   # suffix "cc dd ee"
             (2, "cc dd ee ff gg"),   # prefix "cc dd ee" -> pair (1, 2)
             (3, "zz yy"),            # < k tokens: cannot match
             (4, "ee ff gg hh")],     # prefix "ee ff gg" matches 2's suffix
            "doc_id long, text string")
        got = {(r["a"], r["b"]): r["gram"]
               for r in boundary_overlap_pairs(
                   df, "doc_id", "text", k=3).collect()}
        assert got == {(1, 2): "cc dd ee", (2, 4): "ee ff gg"}


class TestStratifiedSample:
    def test_exact_total_and_proportionality(self, spark):
        from ebel_spark.ops.sample import stratified_sample
        rows = ([(i, "big") for i in range(70)]
                + [(100 + i, "mid") for i in range(25)]
                + [(200 + i, "small") for i in range(5)])
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = stratified_sample(df, "source", "doc_id", n_target=20).collect()
        assert len(out) == 20
        by = {}
        for r in out:
            by[r["source"]] = by.get(r["source"], 0) + 1
        # exact quotas: 70/100*20=14, 25/100*20=5, 5/100*20=1 (no remainder)
        assert by == {"big": 14, "mid": 5, "small": 1}

    def test_largest_remainder_allocation(self, spark):
        from ebel_spark.ops.sample import stratified_sample
        # 3 strata of 10 each, n_target=10 -> base 3/3/3, one leftover
        # seat; remainders equal (10), tie -> smallest stratum value "a"
        rows = [(s * 100 + i, c)
                for s, c in enumerate("abc") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = stratified_sample(df, "source", "doc_id", n_target=10).collect()
        by = {}
        for r in out:
            by[r["source"]] = by.get(r["source"], 0) + 1
        assert by == {"a": 4, "b": 3, "c": 3}

    def test_deterministic_across_partitionings(self, spark):
        from ebel_spark.ops.sample import stratified_sample
        rows = [(i, f"s{i % 3}") for i in range(60)]
        a = spark.createDataFrame(rows, "doc_id long, source string")
        b = a.repartition(7)
        ga = sorted(r["doc_id"] for r in
                    stratified_sample(a, "source", "doc_id", 15).collect())
        gb = sorted(r["doc_id"] for r in
                    stratified_sample(b, "source", "doc_id", 15).collect())
        assert ga == gb and len(ga) == 15


class TestIvfOutliers:
    def test_planted_far_point_ranks_first(self, spark):
        from ebel_spark.ops.vectors import ivf_outliers
        rows = [(i, [float((i * 7 + j) % 5) / 10 for j in range(4)])
                for i in range(50)]
        rows.append((99, [25.0, 25.0, 25.0, 25.0]))  # planted outlier
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = ivf_outliers(df, dim=4, nlist=1, top=3).collect()
        assert len(out) == 3
        top1 = [r for r in out if r["rank"] == 1][0]
        assert top1["vec_id"] == 99 and top1["dist"] > 10


class TestRound4Ops:
    """Round-4 additions: multi-probe LSH, residual IVF-PQ, ivf_outliers
    auto-nlist parity, stratified_sample loud precondition, ktruss k=2
    semantics, SNP->gene mapping."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.RandomState(7)
        base = rng.randn(10, 16).astype("float32")
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        for i in range(5):
            v = base[i] + rng.randn(16).astype("float32") * 0.01
            rows.append((10 + i, [float(x) for x in v]))
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_multiprobe_recall_dominates_single_probe(self, vecs):
        q = vecs.filter("vec_id < 5")
        exact = X.brute_force_topk(vecs, q, k=2)
        single = X.lsh_topk(vecs, q, dim=16, k=2, nbits=8)
        multi = X.lsh_multiprobe_topk(vecs, q, dim=16, k=2, nbits=8)
        r1 = {r.query_id: r.n_hit
              for r in X.topk_recall(single, exact, k=2).collect()}
        r2 = {r.query_id: r.n_hit
              for r in X.topk_recall(multi, exact, k=2).collect()}
        # candidate superset -> per-query recall can only improve
        assert all(r2[qid] >= r1.get(qid, 0) for qid in r2)

    def test_multiprobe_candidates_are_superset(self, vecs):
        q = vecs.filter("vec_id < 5")
        single = {(r.query_id, r.corpus_id) for r in X.lsh_topk(
            vecs, q, dim=16, k=20, nbits=8).collect()}
        multi = {(r.query_id, r.corpus_id) for r in X.lsh_multiprobe_topk(
            vecs, q, dim=16, k=20, nbits=8).collect()}
        assert single <= multi

    def test_ivfpq_residual_full_probe_ranks_planted_first(self, vecs):
        q = vecs.filter("vec_id < 5")
        got = X.ivfpq_topk(vecs, q, dim=16, k=1, nlist=2, nprobe=2,
                           m=4, ksub=4, iters=1, pq_iters=1,
                           by_residual=True).collect()
        hits = {r.query_id: r.corpus_id for r in got}
        # residual coding must at least find the planted near-dups too
        assert sum(1 for qid, cid in hits.items() if cid == qid + 10) >= 3
        # deterministic across runs (exact scaled-long scores + offsets)
        again = X.ivfpq_topk(vecs, q, dim=16, k=1, nlist=2, nprobe=2,
                             m=4, ksub=4, iters=1, pq_iters=1,
                             by_residual=True).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    def test_ivf_outliers_auto_nlist(self, vecs):
        auto = X.ivf_outliers(vecs, dim=16, nlist=None, top=2)
        n = vecs.count()
        explicit = X.ivf_outliers(vecs, dim=16, nlist=X.auto_nlist(n),
                                  top=2)
        assert (sorted(map(tuple, auto.collect()))
                == sorted(map(tuple, explicit.collect())))

    def test_stratified_sample_overdraw_fails_loudly(self, spark):
        import pyspark.errors
        from ebel_spark.ops import sample as S
        df = spark.createDataFrame(
            [(i, "a" if i % 2 else "b") for i in range(10)],
            ["id", "stratum"])
        ok = S.stratified_sample(df, "stratum", "id", n_target=6)
        assert ok.count() == 6
        with pytest.raises(Exception) as ei:
            S.stratified_sample(df, "stratum", "id", n_target=11).count()
        assert "n_target" in str(ei.value)

    def test_ktruss_k2_is_whole_graph(self, spark):
        from ebel_spark import graph as G
        # a triangle plus a pendant edge: the 2-truss is the WHOLE graph
        # (every edge has support >= 0); the pendant edge must survive
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["u", "v"])
        got = {(r.a, r.b): r.support
               for r in G.ktruss_peel(e, k=2, rounds=2).collect()}
        assert len(got) == 4
        assert got[("c", "d")] == 0
        assert got[("a", "b")] == 1

    def test_snp_gene_map_matches_bisect_oracle(self, spark):
        from ebel_spark.link import snp_gene_map
        genes = [("G1", "1", 100, 200), ("G2", "1", 150, 400),
                 ("G3", "1", 500, 600), ("G4", "2", 100, 200)]
        snps = [("rs1", "1", 170), ("rs2", "1", 450), ("rs3", "1", 50),
                ("rs4", "2", 700)]
        gdf = spark.createDataFrame(
            genes, ["symbol", "chromosome", "start", "stop"])
        sdf = spark.createDataFrame(
            snps, ["snp_id", "chromosome", "position"])
        got = {(r.snp_id, r.gene_type): r.symbol
               for r in snp_gene_map(sdf, gdf).collect()
               if r.gene_type != "mapped"}
        mapped = {(r.snp_id, r.symbol)
                  for r in snp_gene_map(sdf, gdf).collect()
                  if r.gene_type == "mapped"}
        # rs1 at 1:170 sits inside G1 and G2; rs4 at 2:700 is past G4 so
        # it is NOT mapped (only nearest-upstream); no other SNP falls
        # inside a gene span
        assert mapped == {("rs1", "G1"), ("rs1", "G2")}
        assert got[("rs1", "downstream")] == "G3"
        assert got[("rs2", "downstream")] == "G3"
        assert got[("rs2", "upstream")] == "G2"
        assert got[("rs3", "downstream")] == "G1"
        assert ("rs3", "upstream") not in got
        assert got[("rs4", "upstream")] == "G4"


class TestHornRulesAndRrf:
    def test_mine_horn_rules_hand_graph(self, spark):
        from ebel_spark import graph as G
        # increases(a,b), increases(b,c), increases(a,c)  -> perfect rule
        # increases(d,e), increases(e,f)                  -> body w/o head
        facts = [("a", "inc", "b"), ("b", "inc", "c"), ("a", "inc", "c"),
                 ("d", "inc", "e"), ("e", "inc", "f")]
        df = spark.createDataFrame(facts, ["u", "r", "v"])
        got = {(r.r1, r.r2, r.r3):
               (r.support, r.body_size, r.conf, r.pca_body, r.conf_pca)
               for r in G.mine_horn_rules(df, min_support=1,
                                          min_conf=0.0).collect()}
        # bodies: (a,c) via b and (d,f) via e -> body_size 2; only (a,c)
        # carries the inc head -> support 1, conf 0.5.  PCA: both body
        # subjects a and d have SOME inc edge -> pca_body 2, same conf
        assert got[("inc", "inc", "inc")] == (1, 2, 0.5, 2, 0.5)

    def test_mine_horn_rules_pca_vs_cwa(self, spark):
        from ebel_spark import graph as G
        # rule (oth, inc) => inc: bodies (a,c) [x=a] and (d,f) [x=d];
        # head inc(a,c) exists; subject a HAS an inc edge, subject d has
        # NONE -> CWA conf 1/2, PCA conf 1/1 (open-world correction)
        facts = [("a", "oth", "b"), ("b", "inc", "c"), ("a", "inc", "c"),
                 ("d", "oth", "e"), ("e", "inc", "f")]
        df = spark.createDataFrame(facts, ["u", "r", "v"])
        got = {(r.r1, r.r2, r.r3):
               (r.support, r.body_size, r.conf, r.pca_body, r.conf_pca)
               for r in G.mine_horn_rules(df, min_support=1,
                                          min_conf=0.0).collect()}
        assert got[("oth", "inc", "inc")] == (1, 2, 0.5, 1, 1.0)

    def test_mine_horn_rules_pca_orders_rules_differently(self, spark):
        # r4 VERDICT #8: a fixture where CWA and PCA confidence RANK two
        # rules in opposite order, so the PCA denominator (body
        # groundings whose subject has SOME r3 edge) can't silently
        # drift into the CWA one.  Shared body a∘b with 4 groundings
        # (x1,z1)..(x4,z4); head h1 covers 2 of them and x3 has an
        # unrelated h1 edge -> pca_body 3; head h2 covers 1 and only x1
        # has any h2 edge -> pca_body 1.
        #   CWA: conf(h1)=2/4 > conf(h2)=1/4
        #   PCA: conf_pca(h1)=2/3 < conf_pca(h2)=1/1     (order flips)
        from ebel_spark import graph as G
        facts = []
        for i in range(1, 5):
            facts += [(f"x{i}", "a", f"y{i}"), (f"y{i}", "b", f"z{i}")]
        facts += [("x1", "h1", "z1"), ("x2", "h1", "z2"),
                  ("x3", "h1", "w"), ("x1", "h2", "z1")]
        df = spark.createDataFrame(facts, ["u", "r", "v"])
        got = {(r.r1, r.r2, r.r3):
               (r.support, r.body_size, r.conf, r.pca_body, r.conf_pca)
               for r in G.mine_horn_rules(df, min_support=1,
                                          min_conf=0.0).collect()}
        assert got[("a", "b", "h1")] == (2, 4, 0.5, 3, round(2 / 3, 6))
        assert got[("a", "b", "h2")] == (1, 4, 0.25, 1, 1.0)
        c1, c2 = got[("a", "b", "h1")], got[("a", "b", "h2")]
        assert c1[2] > c2[2] and c1[4] < c2[4]

    def test_mine_horn_rules_mid_degree_cap(self, spark):
        from ebel_spark import graph as G
        # hub y with 3x3 fanout plus one closing head fact x0->z0; a cap
        # below the 9 = in*out fanout kills every body through y (no
        # rule), at the cap the r∘r ⇒ r rule survives with conf 1/9
        facts = ([(f"x{i}", "r", "y") for i in range(3)]
                 + [("y", "r", f"z{j}") for j in range(3)]
                 + [("x0", "r", "z0")])
        df = spark.createDataFrame(facts, ["u", "r", "v"])
        assert G.mine_horn_rules(df, min_support=1, min_conf=0.0,
                                 max_mid_degree=8).count() == 0
        got = {(r.r1, r.r2, r.r3): (r.support, r.body_size, r.conf)
               for r in G.mine_horn_rules(df, min_support=1, min_conf=0.0,
                                          max_mid_degree=9).collect()}
        # the x0->z0 fact adds bodies (x0,z0)∘? none via z0... only the
        # y-hub bodies exist: 9 groundings, 1 covered by the head
        assert got[("r", "r", "r")] == (1, 9, round(1 / 9, 6))

    def test_apply_horn_rules_proposes_missing_heads(self, spark):
        # rule inc∘inc ⇒ inc holds on (a,b,c); body (d,f) via e has no
        # head -> proposed; existing head (a,c) must NOT be proposed
        from ebel_spark import graph as G
        facts = [("a", "inc", "b"), ("b", "inc", "c"), ("a", "inc", "c"),
                 ("d", "inc", "e"), ("e", "inc", "f")]
        df = spark.createDataFrame(facts, ["u", "r", "v"])
        rules = G.mine_horn_rules(df, min_support=1, min_conf=0.0)
        got = {(r.x, r.r3, r.z): (r.conf, r.via_r1, r.via_r2)
               for r in G.apply_horn_rules(df, rules).collect()}
        assert ("d", "inc", "f") in got
        assert got[("d", "inc", "f")] == (0.5, "inc", "inc")
        assert ("a", "inc", "c") not in got

    def test_apply_horn_rules_best_rule_attribution(self, spark):
        # two rules propose the same head; the higher-conf one wins
        from ebel_spark import graph as G
        facts = [
            # rule (p, q) => h with conf 1.0: body (a,c); head exists
            # for the OTHER grounding only
            ("a", "p", "b"), ("b", "q", "c"),
            ("x", "p", "y"), ("y", "q", "z"), ("x", "h", "z"),
            # rule (s, t) => h with conf 0.5: bodies (a,c) and (m,n);
            # head exists for (m,n) only
            ("a", "s", "k"), ("k", "t", "c"),
            ("m", "s", "w"), ("w", "t", "n"), ("m", "h", "n"),
        ]
        df = spark.createDataFrame(facts, ["u", "r", "v"])
        rules = G.mine_horn_rules(df, min_support=1, min_conf=0.0)
        conf = {(r.r1, r.r2, r.r3): r.conf for r in rules.collect()}
        assert conf[("p", "q", "h")] == 0.5 and conf[("s", "t", "h")] == 0.5
        # equal conf -> max (r1, r2) string tiebreak: ('s','t') > ('p','q')
        got = {(r.x, r.r3, r.z): (r.via_r1, r.via_r2)
               for r in G.apply_horn_rules(df, rules).collect()}
        assert got[("a", "h", "c")] == ("s", "t")

    def test_cycle_edges_shortest_lengths(self, spark):
        # 2-cycle a<->b, 3-cycle c->d->e->c, a tail f->a (no cycle),
        # self-loop g->g (excluded)
        from ebel_spark import graph as G
        e = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("c", "d"), ("d", "e"), ("e", "c"),
             ("f", "a"), ("g", "g")], ["u", "v"])
        got = {(r.u, r.v): r.cycle_len
               for r in G.cycle_edges(e, max_len=4).collect()}
        assert got == {("a", "b"): 2, ("b", "a"): 2,
                       ("c", "d"): 3, ("d", "e"): 3, ("e", "c"): 3}
        # max_len below the 3-cycle hides it
        got2 = {(r.u, r.v): r.cycle_len
                for r in G.cycle_edges(e, max_len=2).collect()}
        assert got2 == {("a", "b"): 2, ("b", "a"): 2}
        # the same edges under other column names: the self-loop filter
        # must compare the endpoints, not whatever `v` names after the
        # rename to (u, v)
        relabelled = e.select(F.col("u").alias("v"), F.col("v").alias("w"))
        got3 = {(r.u, r.v): r.cycle_len
                for r in G.cycle_edges(relabelled, max_len=4, src="v",
                                       dst="w").collect()}
        assert got3 == got

    def test_cycle_edges_shortest_wins_over_longer(self, spark):
        # a->b and b->a PLUS b->x->a: edge (a,b) is on both a 2-cycle
        # and a 3-cycle -> reports 2
        from ebel_spark import graph as G
        e = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "x"), ("x", "a")], ["u", "v"])
        got = {(r.u, r.v): r.cycle_len
               for r in G.cycle_edges(e, max_len=4).collect()}
        assert got[("a", "b")] == 2
        assert got[("b", "x")] == 3 and got[("x", "a")] == 3

    def test_edge_first_assertion(self, spark):
        from ebel_spark import graph as G
        rows = [
            ("a", "inc", "b", "2001-05-01"),
            ("a", "inc", "b", "1999-01-01"),
            ("a", "inc", "b", None),           # dateless excluded
            ("c", "dec", "d", "2010-12-31"),
        ]
        df = spark.createDataFrame(
            rows, ["subject_bel", "relation", "object_bel",
                   "citation_pub_date"])
        got = {(r.subject_bel, r.relation, r.object_bel):
               (r.first_year, r.n_statements)
               for r in G.edge_first_assertion(df).collect()}
        assert got == {("a", "inc", "b"): ("1999", 2),
                       ("c", "dec", "d"): ("2010", 1)}

    def test_kg_diff_statuses(self, spark):
        from ebel_spark import graph as G
        old = spark.createDataFrame(
            [("a", "inc", "b"), ("b", "inc", "c")], ["u", "r", "v"])
        new = spark.createDataFrame(
            [("a", "inc", "b"), ("c", "dec", "d")], ["u", "r", "v"])
        got = {(r.u, r.r, r.v): r.status
               for r in G.kg_diff(old, new).collect()}
        assert got == {("a", "inc", "b"): "kept",
                       ("b", "inc", "c"): "removed",
                       ("c", "dec", "d"): "added"}

    def test_rrf_fuse_hand_rankings(self, spark):
        a = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 20, 1)],
            ["query_id", "corpus_id", "rank"])
        b = spark.createDataFrame(
            [(1, 11, 1), (1, 12, 2), (2, 20, 1)],
            ["query_id", "corpus_id", "rnk"])
        got = {(r.query_id, r.corpus_id): (r.rrf, r.rnk)
               for r in X.rrf_fuse([a, b], k=60).collect()}
        # doc 11: 1/62 + 1/61; doc 20 (both rank 1): 2/61 -> top
        assert got[(1, 11)][0] == round(1 / 62 + 1 / 61, 6)
        assert got[(1, 10)][0] == round(1 / 61, 6)
        assert got[(2, 20)] == (round(2 / 61, 6), 1)
        assert got[(1, 11)][1] == 1  # beats both single-list docs
        # doc absent from one list still present with one term
        assert got[(1, 12)][0] == round(1 / 62, 6)


class TestProfilingOps:
    def test_clustering_coefficient_hand_graph(self, spark):
        from ebel_spark import graph as G
        # triangle a-b-c plus pendant c-d: lcc(a)=lcc(b)=1 (deg 2, 1 tri),
        # lcc(c)=2*1/(3*2)=1/3, d has degree 1 -> excluded
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["u", "v"])
        got = {r.bel: (r.degree, r.n_triangles, r.lcc)
               for r in G.clustering_coefficient(e).collect()}
        assert got["a"] == (2, 1, 1.0)
        assert got["b"] == (2, 1, 1.0)
        assert got["c"] == (3, 1, round(1 / 3, 6))
        assert "d" not in got

    def test_schema_graph_rollup(self, spark):
        from ebel_spark import graph as G
        st = spark.createDataFrame(
            [("protein", "increases", "rna", "p1", "r1"),
             ("protein", "increases", "rna", "p1", "r2"),
             ("protein", "increases", "rna", "p2", "r1"),
             ("gene", "association", "protein", "g1", "p1")],
            ["subject_class", "relation", "object_class",
             "subject_bel", "object_bel"])
        got = {(r.subject_class, r.relation, r.object_class):
               (r.n_statements, r.n_subjects, r.n_objects)
               for r in G.schema_graph(st).collect()}
        assert got[("protein", "increases", "rna")] == (3, 2, 2)
        assert got[("gene", "association", "protein")] == (1, 1, 1)

    def test_c4_rules_line_and_doc_filters(self, spark):
        from ebel_spark.ops import text as T
        docs = [
            (0, "A good sentence here.\nshort.\nno punct line\n"
                "enable javascript to continue.\nAnother fine line!"),
            (1, "Lorem Ipsum dolor sit amet.\nA good sentence here."),
            (2, "if (x) { return; }\nA good sentence here."),
            (3, "only fragments\nno endings"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r.doc_id: r for r in T.c4_rules(df).collect()}
        # doc 0: kept = the 2 proper sentences ("short." has < 3 words;
        # the javascript line is dropped despite punctuation)
        assert (got[0].n_lines, got[0].kept_lines) == (5, 2)
        assert got[0].keep
        assert got[1].has_lorem and not got[1].keep
        assert got[2].has_brace and not got[2].keep
        assert got[3].kept_lines == 0 and not got[3].keep


class TestEntityResolutionAndTempMix:
    def test_node_merge_map_hand_case(self, spark):
        from ebel_spark import graph as G
        rows = [
            ("gene", "AKT1", 'g(HGNC:"AKT1")'),
            ("gene", "AKT1", 'g(HGNC:"AKT1")'),
            ("gene", "Akt1", 'g(MGI:"Akt1")'),
            ("gene", "APP", 'g(HGNC:"APP")'),      # singleton -> no merge
            ("protein", "akt-1", 'p(X:"akt-1")'),  # other class
            ("protein", "AKT1", 'p(Y:"AKT1")'),
        ]
        df = spark.createDataFrame(rows, ["node_class", "name", "bel"])
        got = {(r.node_class, r.bel): (r.canonical_bel, r.n_forms)
               for r in G.node_merge_map(df).collect()}
        # gene akt1 group: HGNC form occurs twice -> canonical
        assert got[("gene", 'g(HGNC:"AKT1")')] == ('g(HGNC:"AKT1")', 2)
        assert got[("gene", 'g(MGI:"Akt1")')] == ('g(HGNC:"AKT1")', 2)
        # protein akt1 group: tie (1 vs 1) -> smallest bel wins
        assert got[("protein", 'p(Y:"AKT1")')][0] == 'p(X:"akt-1")'
        assert ("gene", 'g(HGNC:"APP")') not in got

    def test_node_merge_map_empty_norm_not_merged(self, spark):
        # r4 ADVICE: names that are entirely non-[a-z0-9] (Greek/CJK
        # symbols) normalize to '' — unrelated nodes must NOT collapse
        # into one mega merge group
        from ebel_spark import graph as G
        rows = [
            ("gene", "αβγ", 'g(X:"αβγ")'),
            ("gene", "ΔΕΖ", 'g(X:"ΔΕΖ")'),
            ("gene", "漢字", 'g(X:"漢字")'),
            ("gene", "AKT1", 'g(HGNC:"AKT1")'),
            ("gene", "akt-1", 'g(MGI:"akt-1")'),
        ]
        df = spark.createDataFrame(rows, ["node_class", "name", "bel"])
        out = G.node_merge_map(df).collect()
        bels = {r.bel for r in out}
        assert bels == {'g(HGNC:"AKT1")', 'g(MGI:"akt-1")'}
        assert all(r.norm_name == "akt1" for r in out)

    def test_temperature_mix_upweights_small_sources(self, spark):
        from ebel_spark.ops import sample as S
        # 900 rows of "big", 100 of "small": proportional would give the
        # small source ~10/100; sqrt weighting gives 100*10/(30+10) = 25
        rows = ([(i, "big") for i in range(900)]
                + [(1000 + i, "small") for i in range(100)])
        df = spark.createDataFrame(rows, ["id", "src"])
        got = S.temperature_mix(df, "src", "id", n_target=100).collect()
        n_small = sum(1 for r in got if r.src == "small")
        assert len(got) == 100
        assert n_small == 25
        # determinism
        again = S.temperature_mix(df, "src", "id", n_target=100).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    def test_temperature_mix_caps_at_source_size(self, spark):
        from ebel_spark.ops import sample as S
        # tiny source upweighted past its size: quota capped at n_s,
        # output undershoots n_target (documented behavior)
        rows = ([(i, "big") for i in range(400)]
                + [(1000 + i, "tiny") for i in range(2)])
        df = spark.createDataFrame(rows, ["id", "src"])
        got = S.temperature_mix(df, "src", "id", n_target=60).collect()
        n_tiny = sum(1 for r in got if r.src == "tiny")
        assert n_tiny == 2
        assert len(got) <= 60
