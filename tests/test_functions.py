"""Tests for text / dedup / similarity / multimodal function families."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions import dedup, multimodal, similarity, text

from conftest import rows_set


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
            (3, "dog lazy the over jumps fox brown quick the"),   # reordered dup of 1
            (4, "completely different content about spark engines"),
            (5, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        ],
        "doc_id long, text string",
    )


class TestText:
    def test_tokens_and_count(self, spark):
        df = spark.createDataFrame([("a  b c",)], "text string")
        out = df.select(text.token_count("text").alias("n")).first()
        assert out["n"] == 3  # double space must not create an empty token

    def test_bpe_ish_tokens(self, spark):
        df = spark.createDataFrame([("ab12 c-d!",)], "text string")
        toks = df.select(text.bpe_ish_tokens("text").alias("t")).first()["t"]
        assert toks == ["ab", "12", "c", "-", "d", "!"]

    def test_quality_stats(self, spark):
        df = spark.createDataFrame([(1, "the the the xyz")], "doc_id long, text string")
        row = text.with_quality_stats(df).first()
        assert row["n_tokens"] == 4
        assert row["distinct_token_ratio"] == 0.5
        assert row["stopword_ratio"] == 0.75

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat is in the house"), (2, "el gato que es de la casa"),
             (3, "der hund ist mit der katze"), (4, "zzz qqq www")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", text.language_id("text").alias("lang")).collect()}
        assert got == {1: "en", 2: "es", 3: "de", 4: "und"}

    def test_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",)], "text string")
        sh = df.select(text.shingles("text", 3).alias("s")).first()["s"]
        assert sh == ["a b c", "b c d"]
        short = spark.createDataFrame([("a b",)], "text string")
        assert short.select(text.shingles("text", 3).alias("s")).first()["s"] == ["a b"]

    def test_length_histogram_buckets(self, spark):
        # bucket b = [2^(b-1), 2^b): n_tokens 1 -> b1, {2,3} -> b2,
        # {4..7} -> b3, 8 -> b4; empty docs are excluded entirely
        rows = [(i, " ".join(["t"] * n)) for i, n in enumerate([1, 2, 3, 4, 7, 8])]
        rows.append((99, ""))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["bit_bucket"]: (r["n_docs"], r["min_tokens"], r["max_tokens"], r["sum_tokens"])
            for r in text.length_histogram(df).collect()
        }
        assert got == {1: (1, 1, 1, 1), 2: (2, 2, 3, 5), 3: (2, 4, 7, 11), 4: (1, 8, 8, 8)}

    def test_with_token_budget_prefix_closed(self, spark):
        # id order, budget 8: cum 3, 7, 12 -> doc 3 exceeds and is dropped
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c d"), (3, "a b c d e")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["cum_tokens"])
            for r in text.with_token_budget(df, 8).collect()
        }
        assert got == {1: (3, 3), 2: (4, 7)}

    def test_with_token_budget_stratified_priority(self, spark):
        # per-stratum budgets: en spends on the higher-priority doc first,
        # de fills its budget exactly
        df = spark.createDataFrame(
            [
                (1, "en", 1.0, "a b"),
                (2, "en", 2.0, "a b c"),
                (3, "de", 1.0, "w x y z"),
            ],
            "doc_id long, lang string, prio double, text string",
        )
        out = text.with_token_budget(
            df, 4, priority_col="prio", stratum_col="lang"
        )
        got = {r["doc_id"]: r["cum_tokens"] for r in out.collect()}
        assert got == {2: 3, 3: 4}

    def test_concat_chunk_spans_offsets(self, spark):
        # id-order token stream 3+5+2, context 4: doc 2 straddles the
        # chunk-0/1 boundary, doc 3 starts exactly at a boundary
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c d e"), (3, "a b")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["start_offset"], r["first_chunk"], r["last_chunk"], r["n_chunks"])
            for r in text.concat_chunk_spans(df, 4).collect()
        }
        assert got == {1: (0, 0, 0, 1), 2: (3, 0, 1, 2), 3: (8, 2, 2, 1)}


class TestDedup:
    def test_exact_dedup(self, spark, docs):
        out = dedup.exact_dedup(docs)
        by_keep = {r["keep_id"]: r["n_copies"] for r in out.collect()}
        assert by_keep[1] == 2  # docs 1+2 collapse
        assert by_keep[3] == 1  # reorder not caught by exact hash

    def test_token_set_dedup_catches_reorder(self, spark, docs):
        out = dedup.token_set_dedup(docs)
        by_keep = {r["keep_id"]: r["n_docs"] for r in out.collect()}
        assert by_keep[1] == 3  # 1, 2 and reordered 3 share the token set

    def test_simhash_identical_and_near(self, spark, docs):
        sigs = {
            r["doc_id"]: r["sig"]
            for r in docs.select("doc_id", dedup.simhash64("text").alias("sig")).collect()
        }
        assert sigs[1] == sigs[2]
        ham_near = bin(sigs[1] ^ sigs[5]).count("1")
        ham_far = bin(sigs[1] ^ sigs[4]).count("1")
        assert ham_near < ham_far

    def test_simhash_portable_matches_md5_model(self, spark, docs):
        import hashlib

        def model(text, n_bits):
            toks = {t for t in text.split(" ") if t}
            sig = 0
            for b in range(n_bits):
                w, bw = divmod(b, 16)
                vote = sum(
                    1
                    if (
                        int(
                            hashlib.md5(f"{w}:{t}".encode()).hexdigest()[:4], 16
                        )
                        >> bw
                    )
                    & 1
                    else -1
                    for t in toks
                )
                if vote > 0:
                    sig |= 1 << b
            return sig

        for n_bits in (16, 32):
            rows = docs.select(
                "doc_id", "text", dedup.simhash_portable("text", n_bits).alias("sig")
            ).collect()
            for r in rows:
                assert r["sig"] == model(r["text"], n_bits)
            sigs = {r["doc_id"]: r["sig"] for r in rows}
            assert sigs[1] == sigs[2] == sigs[3]  # distinct-token-set based
            ham_near = bin(sigs[1] ^ sigs[5]).count("1")
            ham_far = bin(sigs[1] ^ sigs[4]).count("1")
            assert ham_near < ham_far

    def test_simhash_conjunction_recall_vs_brute_force(self, spark, docs):
        # pigeonhole: with `bands` chunks joined on all C(bands,2) pairs,
        # every pair within Hamming <= bands-2 MUST surface as a candidate.
        for bands, sig_bits in ((4, 32), (8, 64)):
            radius = bands - 2
            sig_expr = (
                dedup.simhash_portable("text", 32) if sig_bits == 32 else dedup.simhash64("text")
            )
            sigs = {
                r["doc_id"]: r["sig"]
                for r in docs.select("doc_id", sig_expr.alias("sig")).collect()
            }
            want = {
                (a, b)
                for a in sigs
                for b in sigs
                if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= radius
            }
            got = {
                (r["id_a"], r["id_b"])
                for r in dedup.simhash_candidates(
                    docs, "text", "doc_id", bands=bands, sig=sig_expr, sig_bits=sig_bits,
                    conjunction=True,
                )
                .filter(F.col("hamming") <= radius)
                .collect()
            }
            assert got == want

    def test_simhash_conjunction_rejects_thin_bands(self, spark, docs):
        with pytest.raises(ValueError, match="bands >= 3"):
            dedup.simhash_candidates(docs, bands=2, conjunction=True)

    def test_minhash_est_jaccard(self, spark, docs):
        pairs = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=8)
        got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
        assert got[(1, 2)] == 1.0  # identical docs always bucket together
        # determinism across runs
        again = {
            (r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=8).collect()
        }
        assert got == again

    def test_cluster_duplicates_transitive(self, spark):
        # chain 1-2, 2-3 plus pair 10-11: {1,2,3} one cluster via
        # transitivity even though (1,3) was never a pair; 99 singleton
        pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.cluster_duplicates(pairs, ids, "doc_id").collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    def test_cluster_duplicates_converges_on_final_round(self, spark, monkeypatch):
        # distributed rounds only (the one-task solve has no round cap):
        # path 0-1-2-3-4 under propagation + path halving: label 0 needs
        # exactly 2 update rounds (pointer-jumping moves a min two
        # hops per round). max_iters=2 means the LAST update lands exactly
        # on round max_iters — the changed==0 probe runs in round 3 and
        # must confirm convergence, not raise.
        monkeypatch.setattr(dedup, "_CC_BROADCAST_MAX_EDGES", 0)
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.cluster_duplicates(pairs, ids, "doc_id", max_iters=2).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}

    def test_cluster_duplicates_long_path_log_rounds(self, spark):
        # pointer-jumping pin: on the distributed rounds a 200-node path
        # converges in O(log diameter) update rounds (~9), far under
        # max_iters=12 — plain one-hop propagation would need 199 rounds
        # and raise. Guards the path-halving step against silent removal.
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(199)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.cluster_duplicates(pairs, ids, "doc_id", max_iters=12).collect()
        }
        assert got == {i: 0 for i in range(200)}

    def test_cluster_duplicates_nonconvergence_still_raises(self, spark, monkeypatch):
        # distributed rounds only: a 20-node path needs ~log2(19)+1 ≈ 5
        # update rounds even with path halving > max_iters 2: labels are
        # still moving after the allowed update rounds — must fail
        # loudly, not return wrong ids
        monkeypatch.setattr(dedup, "_CC_BROADCAST_MAX_EDGES", 0)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(19)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.cluster_duplicates(pairs, ids, "doc_id", max_iters=2).collect()

    def test_jaccard_verify_pairs_candidates_only(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c d"), (3, "x y z")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
        # bigrams {a b, b c} vs {a b, b c, c d}: J = 2/3, floor-truncated
        # to 4 decimals; (1,3) has J=0 and falls below the threshold
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.jaccard_verify_pairs(docs, pairs, min_jaccard=0.5).collect()
        }
        assert got == {(1, 2): 0.6666}
        # only candidate pairs are ever scored: (2,3) is absent even at
        # threshold 0 because it was never in the candidate list
        got_all = {
            (r["id_a"], r["id_b"])
            for r in dedup.jaccard_verify_pairs(docs, pairs, min_jaccard=0.0).collect()
        }
        assert got_all == {(1, 2), (1, 3)}

    def test_incremental_dedup_screens_exact_and_near(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "one two three four five six"),
            ],
            "doc_id long, text string",
        )
        delta = spark.createDataFrame(
            [
                (10, "  ALPHA beta gamma delta epsilon "),  # exact after normalize
                (11, "one two three four five seven"),      # near-dup of 2 (J=5/7)
                (12, "totally fresh content here now"),     # admitted
                (13, "totally fresh content here now"),     # intra-delta dup: ALSO
                # admitted — cross-side screening only (batch lattice's job)
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]
            for r in dedup.incremental_dedup(delta, corpus, min_jaccard=0.5).collect()
        }
        assert got == {12, 13}

    def test_incremental_dedup_hot_shingle_pruning_keeps_admission_sound(self, spark):
        # pruning hot corpus shingles must drop them from BOTH indexes so
        # jaccard stays a true jaccard over the kept universe
        corpus = spark.createDataFrame(
            [(i, "the common filler words here plus unique%d tail%d" % (i, i))
             for i in range(20)],
            "doc_id long, text string",
        )
        delta = spark.createDataFrame(
            [(100, "the common filler words here plus other stuff entirely")],
            "doc_id long, text string",
        )
        loose = dedup.incremental_dedup(delta, corpus, min_jaccard=0.3)
        pruned = dedup.incremental_dedup(delta, corpus, min_jaccard=0.3, max_doc_count=5)
        # the shared prefix's bigrams appear in all 20 corpus docs; with
        # them pruned the delta doc shares nothing and is admitted
        assert loose.count() == 0
        assert pruned.count() == 1

    def test_incremental_dedup_short_docs_skip_postings_at_higher_n(self, spark):
        # with shingle_n=3 a 2-token doc has no real trigram; it must not
        # enter the inverted index via shingles()'s whole-text fallback.
        # "tiny  doc" (double space) vs "tiny doc" are NOT exact dups
        # (md5(lower(trim)) keeps inner whitespace) but tokens() drops
        # empties, so both would emit the identical fallback posting
        # "tiny doc" -> J=1.0 -> false rejection under a >= 2 filter.
        corpus = spark.createDataFrame(
            [(1, "tiny  doc"), (2, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        delta = spark.createDataFrame(
            [(10, "tiny doc"), (11, "alpha beta gamma zeta eta")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]
            for r in dedup.incremental_dedup(
                delta, corpus, shingle_n=3, min_jaccard=0.5
            ).collect()
        }
        # 10: 2 tokens < shingle_n -> no postings -> admitted (the old
        # hardcoded >=2 filter rejected it via the fallback pseudo-match);
        # 11 shares 1 of 5 trigrams with corpus doc 2 -> J=0.2: admitted
        assert got == {10, 11}

    def test_duplicate_spans_boundaries_and_merge(self, spark):
        boiler = "b0 b1 b2 b3"  # shared 4-gram boilerplate
        docs = spark.createDataFrame(
            [
                # boilerplate at positions 2..6 inside unique text
                (1, "u1 u2 " + boiler + " u3 u4"),
                # same boilerplate at the very start
                (2, boiler + " v1 v2 v3 v4"),
                # two overlapping duplicated grams merge into ONE span:
                # b0..b3 at 0 and again at 2 -> hits at 0,1,2 -> [0,7)
                (3, "b0 b1 b0 b1 b2 b3 z9"),
                # too short for any 4-gram
                (4, "b0 b1 b2"),
                # entirely unique: no duplicated grams
                (5, "w1 w2 w3 w4 w5 w6"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
            for r in dedup.duplicate_spans(docs, gram_n=4).collect()
        }
        assert (1, 2, 6, 4) in got
        assert (2, 0, 4, 4) in got
        assert not any(r[0] in (4, 5) for r in got)
        doc3 = sorted(r for r in got if r[0] == 3)
        # "b0 b1" at 0/2 and the 4-grams containing them: hits at starts
        # 0,1,2 (grams "b0 b1 b0 b1", "b1 b0 b1 b2"?, ...) — whatever the
        # exact duplicated grams, doc 3's hits must merge to one span
        assert len(doc3) == 1

    def test_duplicate_spans_distinct_regions_stay_separate(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a0 a1 a2 a3 x1 x2 x3 c0 c1 c2 c3"),
                (2, "a0 a1 a2 a3 y1 y2 y3 c0 c1 c2 c3"),
            ],
            "doc_id long, text string",
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup.duplicate_spans(docs, gram_n=4).collect()
        )
        # shared prefix [0,4) and shared suffix [7,11), separated by a
        # unique middle -> two spans per doc, never merged
        assert got == [(1, 0, 4), (1, 7, 11), (2, 0, 4), (2, 7, 11)]

    def test_scrub_spans_removes_exact_tokens(self, spark):
        docs = spark.createDataFrame(
            [(1, "u1 u2 b0 b1 b2 b3 u3"), (2, "b0 b1 b2 b3 v1 v2 v3"), (3, "w1 w2 w3 w4")],
            "doc_id long, text string",
        )
        spans = dedup.duplicate_spans(docs, gram_n=4)
        out = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in dedup.scrub_spans(docs, spans).collect()
        }
        assert out[1] == ("u1 u2 u3", 4)
        assert out[2] == ("v1 v2 v3", 4)
        assert out[3] == ("w1 w2 w3 w4", 0)  # span-free docs untouched

    def test_scrub_spans_full_doc_becomes_empty(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        )
        spans = dedup.duplicate_spans(docs, gram_n=4)
        out = {r["doc_id"]: r["clean_text"] for r in dedup.scrub_spans(docs, spans).collect()}
        assert out == {1: "", 2: ""}

    def test_prefix_filter_is_lossless(self, spark):
        # prefix-filtered candidates + exact verify must reproduce the
        # full inverted-index result exactly, at two thresholds
        import random

        rng = random.Random(7)
        base = ["w%d" % i for i in range(30)]
        docs = []
        for i in range(80):
            words = rng.sample(base, rng.randint(5, 12))
            docs.append((i, " ".join(words)))
            if i % 4 == 0:  # plant near-duplicates
                docs.append((1000 + i, " ".join(words[:-1] + [rng.choice(base)])))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for t in (0.5, 0.8):
            full = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in dedup.ngram_jaccard_pairs(df, min_jaccard=t).collect()
            }
            cand = dedup.prefix_jaccard_candidates(df, min_jaccard=t)
            pref = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in dedup.jaccard_verify_pairs(df, cand, min_jaccard=t).collect()
            }
            assert pref == full and full  # non-empty by construction

    def test_prefix_filter_collapses_candidates_on_zipf_vocab(self, spark):
        # the design regime: Zipf vocabulary -> most shingles rare ->
        # df-ordered prefixes index almost no hot shingles and the
        # candidate set collapses vs the full co-occurrence universe
        import random

        rng = random.Random(11)
        hot = ["the", "of", "and", "to", "in"]
        docs = []
        for i in range(300):
            rare = ["r%d_%d" % (i // 3, k) for k in range(8)]  # shared by ~3 docs
            words = hot + rng.sample(rare, 6)
            rng.shuffle(words)
            docs.append((i, " ".join(words)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        cand_n = dedup.prefix_jaccard_candidates(df, min_jaccard=0.5).count()
        sh = df.select(
            "doc_id",
            F.explode(F.array_distinct(text.shingles("text", 2))).alias("s"),
        ).dropDuplicates()
        a, b = sh.alias("a"), sh.alias("b")
        all_n = (
            a.join(b, "s")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
        # every doc shares hot bigrams with most others -> all_n is huge;
        # prefixes exclude them -> candidates collapse by >5x
        assert all_n > 5 * cand_n

    def test_apply_dedup_keeps_representatives(self, spark):
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]], "doc_id long")
        docs = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (9, "z")], "doc_id long, text string"
        )
        clusters = dedup.cluster_duplicates(pairs, ids, "doc_id")
        kept = dedup.apply_dedup(docs, clusters)
        assert {r["doc_id"] for r in kept.collect()} == {1, 9}

    def test_ngram_jaccard_exact_values(self, spark, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, shingle_n=2, min_jaccard=0.1)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert got[(1, 2)] == 1.0
        # doc5 differs in last token: 7 of 8 bigrams shared -> 7/9
        assert got[(1, 5)] == math.floor(7 / 9 * 10000) / 10000

    def test_ngram_jaccard_hot_shingle_pruning(self, spark):
        # one stopword bigram ("stop word") in EVERY doc: unpruned, all
        # C(12,2) pairs are candidates through that single hot posting list
        # (the quadratic skew blowup); with df pruning at 50% the only
        # surviving pair is the true duplicate, found via its rare shingles
        rows = [(i, f"stop word unique{i} tail{i}") for i in range(10)]
        rows += [(100, "stop word same same2"), (101, "stop word same same2")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        unpruned = dedup.ngram_jaccard_pairs(df, min_jaccard=0.05)
        assert unpruned.count() == 12 * 11 // 2  # every pair shares the hot shingle
        pruned = dedup.ngram_jaccard_pairs(df, min_jaccard=0.05, max_doc_frac=0.5)
        got = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pruned.collect()]
        # the duplicate pair keeps jaccard 1.0 over its remaining shingles
        assert got == [(100, 101, 1.0)]

    def test_dfreq_without_pruning_param_rejected(self, spark):
        import pytest

        # dfreq feeds only the pruning branch: accepting it with neither
        # max_doc_frac nor max_doc_count would silently run UNPRUNED
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
        )
        dfreq = dedup.shingle_dfreq(df)
        with pytest.raises(ValueError, match="ignored"):
            dedup.ngram_jaccard_pairs(df, min_jaccard=0.1, dfreq=dfreq)

    @staticmethod
    def _topic_corpus(spark, n_topics, docs_per_topic=50):
        # density-dilution model (SCALING.json lesson): each topic shares
        # a 4-token boilerplate among its 50 docs, so hot-shingle df is a
        # CONSTANT 50 docs while the corpus (and vocabulary) scale with
        # n_topics — exactly the regime where a fixed df FRACTION stops
        # pruning as the corpus grows
        rows = []
        for t in range(n_topics):
            for d in range(docs_per_topic):
                i = t * docs_per_topic + d
                rows.append(
                    (i, f"boiler{t}a boiler{t}b boiler{t}c boiler{t}d "
                        f"u{i}a u{i}b u{i}c u{i}d")
                )
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_fixed_df_frac_stops_pruning_under_density_dilution(self, spark):
        # fixed-frac pruning degenerates at 10x corpus size (per-shingle
        # df fractions dilute below the threshold) — the failure the
        # calibrated absolute cutoff exists for (next tests)
        small = self._topic_corpus(spark, n_topics=5)     # 250 docs
        big = self._topic_corpus(spark, n_topics=50)      # 2500 docs

        def n_pairs(df, **kw):
            return dedup.ngram_jaccard_pairs(df, min_jaccard=0.05, **kw).count()

        per_topic = 50 * 49 // 2  # docs of one topic all pair via boilerplate
        assert n_pairs(small) == 5 * per_topic
        # fixed frac 0.15: prunes at 1x (df 50 > 0.15*250) ...
        assert n_pairs(small, max_doc_frac=0.15) == 0
        # ... but silently stops pruning at 10x (50 < 0.15*2500): quadratic again
        assert n_pairs(big, max_doc_frac=0.15) == 50 * per_topic

    def test_calibrated_df_cutoff_median_rule_pinned(self, spark):
        # known df distribution by construction: two-token docs yield
        # exactly one shingle each; shingle i appears in i docs, i=1..21,
        # so dfs are {1..21}, exact median = value at rank ceil(21/2)=11,
        # cutoff = max(8, 9000*11 // 10000) = 9 — the rule the pruned
        # queries' oracles replay verbatim (ROW_NUMBER at the same rank)
        rows = []
        for i in range(1, 22):
            for d in range(i):
                rows.append((i * 100 + d, f"a{i} b{i}"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert dedup.calibrated_df_cutoff(df) == 9
        # min_cutoff floor: all-distinct shingles -> median df 1 ->
        # 9000*1//10000 = 0 -> floored at 8
        flat = spark.createDataFrame(
            [(i, f"x{i} y{i}") for i in range(20)], "doc_id long, text string"
        )
        assert dedup.calibrated_df_cutoff(flat) == 8

    def test_calibrated_df_cutoff_survives_density_dilution(self, spark):
        # the round-10 default rule under the same dilution scenario as
        # the fixed-frac test above: per-shingle dfs are scale-invariant in
        # the topic corpus (each topic's boilerplate df stays 50), so the
        # median-anchored cutoff stays put and pruning survives 10x
        # vocabulary growth with the SAME call
        small = self._topic_corpus(spark, n_topics=5)     # 250 docs
        big = self._topic_corpus(spark, n_topics=50)      # 2500 docs
        cut_small = dedup.calibrated_df_cutoff(small)
        cut_big = dedup.calibrated_df_cutoff(big)
        assert cut_small == cut_big  # density stat, not corpus-size stat
        assert cut_small < 50  # hot boilerplate (df 50) stays above it

        def n_pairs(df, cut):
            return dedup.ngram_jaccard_pairs(
                df, min_jaccard=0.05, max_doc_count=cut
            ).count()

        assert n_pairs(small, cut_small) == 0
        assert n_pairs(big, cut_big) == 0

    def test_minhash_lsh_recall_vs_exact_jaccard(self, spark):
        # Candidate-generation QUALITY for the text near-dup family,
        # measured the same way the IVF recall test measures ANN: exact
        # all-pairs Jaccard (the oracle-tier verifier) is ground truth,
        # the banded LSH lattice is the system under test. Both shipping
        # configs, on the 500-doc sf0.01 corpus:
        #   32 hashes / 8 bands / 3-shingles (q_near_dup_minhash):
        #     theory P(candidate | J) = 1-(1-J^4)^8 -> 0.985 at J=0.8
        #   portable 12 hashes / 4 bands / 2-shingles (q_dedup_pipeline):
        #     1-(1-J^3)^4 -> 0.94 at J=0.8
        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

        def pair_set(df):
            return {(r["id_a"], r["id_b"]) for r in df.collect()}

        for truth_cfg, cand in (
            (
                dict(shingle_n=3, min_jaccard=0.8),
                dedup.minhash_lsh_candidates(
                    docs, num_hashes=32, bands=8, shingle_n=3
                ),
            ),
            (
                dict(shingle_n=2, min_jaccard=0.8),
                dedup.minhash_lsh_candidates_portable(
                    docs, n_hashes=12, bands=4, shingle_n=2
                ),
            ),
        ):
            truth = pair_set(
                dedup.ngram_jaccard_pairs(docs, **truth_cfg).select("id_a", "id_b")
            )
            assert truth, "corpus must contain high-similarity pairs"
            got = pair_set(cand.select("id_a", "id_b"))
            recall = len(truth & got) / len(truth)
            assert recall >= 0.9, (truth_cfg, recall, len(truth))


class TestClusterDuplicatesRounds:
    """TestDedup's connected-components cases on the distributed
    pointer-jumping rounds: the one-task gate forced to 0 sends every
    graph above it."""

    @pytest.fixture(autouse=True)
    def _rounds(self, monkeypatch):
        monkeypatch.setattr(dedup, "_CC_BROADCAST_MAX_EDGES", 0)

    test_cluster_duplicates_transitive = TestDedup.test_cluster_duplicates_transitive
    test_cluster_duplicates_long_path_log_rounds = (
        TestDedup.test_cluster_duplicates_long_path_log_rounds
    )


class TestSimilarity:
    def test_cosine_matches_numpy(self, spark):
        import numpy as np

        a = [1.0, 2.0, 3.0, 4.0]
        b = [4.0, 3.0, 2.0, 1.0]
        df = spark.createDataFrame([(a, b)], "va array<float>, vb array<float>")
        got = df.select(similarity.cosine("va", "vb").alias("c")).first()["c"]
        want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(got - want) < 1e-9

    def test_cosine_topk_self_first(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        probe = emb.filter(F.col("vec_id") == 0)
        top = similarity.cosine_topk(emb, probe, k=5).collect()
        assert top[0]["vec_id"] == 0 and top[0]["cosine_sim"] == 1.0

    def test_srp_signature_deterministic(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings").limit(20)
        s1 = rows_set(emb.select("vec_id", similarity.srp_signature("embedding", 64, 16).alias("s")))
        s2 = rows_set(
            emb.repartition(3).select("vec_id", similarity.srp_signature("embedding", 64, 16).alias("s"))
        )
        assert s1 == s2

    def test_ivf_kmeans_fit(self, spark, sf_dir):
        pytest.importorskip("pyspark.ml")
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        assigned, centers = similarity.ivf_fit_kmeans(emb, n_cells=8, seed=42)
        assert len(centers) == 8 and len(centers[0]) == 64
        cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
        assert cells <= set(range(8)) and len(cells) > 1
        # determinism: same seed -> same assignment
        again, _ = similarity.ivf_fit_kmeans(emb, n_cells=8, seed=42)
        a = rows_set(assigned.select("vec_id", "cell"))
        b = rows_set(again.select("vec_id", "cell"))
        assert a == b

    def test_ivf_topk_contains_probe(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        probe = emb.filter(F.col("vec_id") == 0)
        top = similarity.ivf_topk(emb, probe, k=5, n_cells=8, nprobe=2).collect()
        assert top[0]["vec_id"] == 0  # probe's own cell is always searched

    def test_tie_order_assignment_vs_probe(self, spark):
        # duplicate centroids force an exact score tie: nearest_cell's
        # strict-> fold keeps the LOWER index, and top_cells must rank that
        # same cell first — else a tied probe at small nprobe could skip
        # its own assignment cell (the r02 advice finding)
        c = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
        df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, v array<double>")
        got = df.select(
            "vec_id",
            similarity.nearest_cell("v", similarity._centers_lit(c)).alias("cell"),
            similarity.top_cells("v", similarity._centers_lit(c), 2).alias("top"),
        ).collect()
        for r in got:
            assert r["top"][0] == r["cell"], r
            assert similarity.nearest_cells_py(
                [1.0, 0.0] if r["vec_id"] == 0 else [0.0, 1.0], c, 1
            )[0] == r["cell"]

    def test_ivf_topk_plan_no_expansion(self, spark, sf_dir):
        # the r01 defect: crossJoin(n_cells×) + Window.partitionBy(vec_id).
        # Now: only 1-row broadcast joins — no cartesian product, no window,
        # no shuffle at all before the final top-k heap.
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        probe = emb.filter(F.col("vec_id") == 0)
        df = similarity.ivf_topk(emb, probe, k=5, n_cells=8, nprobe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "Window" not in plan
        assert "Exchange hashpartitioning" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_ivf_assign_matches_python_quantizer(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings").limit(50)
        rows = {r["vec_id"]: list(map(float, r["embedding"])) for r in emb.collect()}
        centers = [rows[i] for i in sorted(rows)[:4]]
        assigned = similarity.ivf_assign(emb, n_cells=4, centers=centers)
        got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
        for vid, vec in rows.items():
            assert got[vid] == similarity.nearest_cells_py(vec, centers, 1)[0], vid

    def test_pq_encode_codebook_members_are_self_codes(self, spark, sf_dir):
        # the first k_codes vectors ARE the codebook: vector i's every
        # subvector is entry i at distance 0, so its code vector must be
        # [i]*m — a full-path pin of codebook slicing + argmin encoding
        # (this exact property caught the 2-arg HOF lambda arity bug:
        # `lambda v, j=j` binds j to the ELEMENT INDEX)
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        books = similarity.pq_codebooks_frame(emb, m=8, k=16)
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in similarity.pq_encode(emb.filter(F.col("vec_id") < 16), books, m=8).collect()
        }
        for i in range(16):
            assert codes[i] == [i] * 8, (i, codes[i])

    def test_pq_recall_rerank_dominates_adc(self, spark, sf_dir):
        # the exact re-rank of the ADC shortlist can only improve on raw
        # ADC top-k, and both recalls live in [0, 10000] bp
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        probes = emb.filter(F.col("vec_id") % 100 == 3)
        row = similarity.pq_recall_report(emb, probes).head()
        assert row["hits_rerank"] >= row["hits_adc"]
        assert 0 <= row["recall_adc_bp"] <= row["recall_rerank_bp"] <= 10000

    def test_ivfpq_layout_prunes_scans_codes_and_serves(self, spark, sf_dir, tmp_path):
        # the composed 100 TB serving layout: IVF partition pruning x PQ
        # nibble scan x bounded exact re-rank
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        rows = {r["vec_id"]: list(map(float, r["embedding"])) for r in emb.collect()}
        centers = [rows[i] for i in sorted(rows)[:8]]
        books = [
            [list(map(float, c)) for c in book]
            for book in similarity.pq_codebooks_frame(emb, m=8, k=16).head()["__books"]
        ]
        path = str(tmp_path / "ivfpq")
        similarity.ivfpq_write(emb, path, n_cells=8, m=8, centers=centers, books=books)

        probe_id = sorted(rows)[37]
        out = similarity.ivfpq_probe(
            spark, path, rows[probe_id], centers, books, k=5, nprobe=2, rerank_r=50
        )
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # cell filter becomes file-level partition pruning
        assert "PartitionFilters: [cell#" in plan
        # the ADC scan reads codes, never the vector column (nibbles, not
        # 256 B/row); the re-rank scan is the only one touching embedding
        import re

        schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
        assert any("codes" in s and "embedding" not in s for s in schemas), schemas

        got = out.collect()
        assert len(got) == 5
        # self-probe: the probe's own vector must be top-1 at distance 0
        # (it is in the probed cells by the top_cells/nearest_cell tie rule)
        assert got[0]["vec_id"] == probe_id and got[0]["exact_d"] == 0.0
        # exact re-rank order is non-decreasing
        dists = [r["exact_d"] for r in got]
        assert dists == sorted(dists)
        # every served id lives in a probed cell
        probed = set(similarity.nearest_cells_py(rows[probe_id], centers, 2))
        cells = {
            r["cell"]
            for r in spark.read.parquet(path)
            .filter(F.col("vec_id").isin([r["vec_id"] for r in got]))
            .select("cell")
            .collect()
        }
        assert cells <= probed

    def test_ivf_partitioned_write_prunes_and_matches(self, spark, sf_dir, tmp_path):
        pytest.importorskip("pyspark.ml")
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        _, centers = similarity.ivf_fit_kmeans(emb, n_cells=8, seed=42)
        path = str(tmp_path / "ivf")
        similarity.ivf_write(emb, path, n_cells=8, centers=centers)
        probe_vec = list(map(float, emb.filter(F.col("vec_id") == 0).first()["embedding"]))
        pruned = similarity.ivf_probe_partitioned(
            spark, path, probe_vec, centers, k=5, nprobe=2
        )
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # the cell IN (...) filter must become partition pruning (file-level
        # skip), not a data filter inside the scan
        assert "PartitionFilters: [cell#" in plan
        # pruned result == in-memory ivf_topk with the same quantizer
        probe = emb.filter(F.col("vec_id") == 0)
        mem = similarity.ivf_topk(emb, probe, k=5, n_cells=8, nprobe=2, centers=centers)
        assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in mem.collect()]

    def test_ivf_recall_vs_exact_cosine(self, spark, sf_dir, tmp_path):
        # Retrieval QUALITY, not just determinism: recall@10 of the IVF
        # paths against exact cosine_topk on the sf0.01 embeddings.
        # These embeddings are near-uniform (no strong cluster structure
        # — IVF's worst case), so the pinned floors are the measured
        # curve for THIS corpus, recorded in BASELINE.md: mean recall
        # 0.33/0.49/0.64/0.87/1.00 at nprobe=1/2/4/8/16 with n_cells=16.
        pytest.importorskip("pyspark.ml")
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

        # sf0.01 explicitly (not the sf0.001 fixture): the documented
        # recall curve was measured on the 500-vector corpus
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        _, centers = similarity.ivf_fit_kmeans(emb, n_cells=16, seed=42)
        probe_rows = emb.orderBy("vec_id").limit(200).collect()[::40]  # 5 probes

        def ids(df):
            return [r["vec_id"] for r in df.collect()]

        exact = {
            r["vec_id"]: set(
                ids(similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == r["vec_id"]), k=10))
            )
            for r in probe_rows
        }
        mean_recall = {}
        for nprobe in (2, 8, 16):
            recalls = []
            for r in probe_rows:
                probe = emb.filter(F.col("vec_id") == r["vec_id"])
                got = set(
                    ids(
                        similarity.ivf_topk(
                            emb, probe, k=10, n_cells=16, nprobe=nprobe, centers=centers
                        )
                    )
                )
                recalls.append(len(got & exact[r["vec_id"]]) / 10)
            mean_recall[nprobe] = sum(recalls) / len(recalls)
        # more cells probed -> recall never degrades
        assert mean_recall[2] <= mean_recall[8] <= mean_recall[16]
        # measured floors (0.49 / 0.87 at nprobe=2/8, with slack for
        # probe-subset variance); nprobe=n_cells scans everything == exact
        assert mean_recall[8] >= 0.8
        assert mean_recall[16] == 1.0
        # the persisted partitioned path retrieves the same neighbors as
        # the in-memory ANN at the same nprobe (quality transfers)
        path = str(tmp_path / "ivf16")
        similarity.ivf_write(emb, path, n_cells=16, centers=centers)
        r0 = probe_rows[0]
        pv = list(map(float, r0["embedding"]))
        part = ids(similarity.ivf_probe_partitioned(spark, path, pv, centers, k=10, nprobe=8))
        mem = ids(
            similarity.ivf_topk(
                emb, emb.filter(F.col("vec_id") == r0["vec_id"]), k=10,
                n_cells=16, nprobe=8, centers=centers,
            )
        )
        assert part == mem


class TestMultimodal:
    @pytest.fixture()
    def assets(self, spark):
        return spark.createDataFrame(
            [
                (1, "image", bytearray(b"img-bytes"), None, ("image/png", 4, 4, None, None)),
                (2, "video", None, "s3://bucket/v.mp4", ("video/mp4", None, None, None, 3500)),
            ],
            multimodal.ASSET_SCHEMA,
        )

    def test_extract_features_deterministic_fake(self, spark, assets):
        out = extract = multimodal.extract_features(assets).collect()
        row = {r["asset_id"]: r for r in out}
        assert row[1]["n_bytes"] == 9
        assert len(row[1]["feature"]) == 8
        again = {r["asset_id"]: r for r in multimodal.extract_features(assets).collect()}
        assert row[1]["feature"] == again[1]["feature"]

    def test_resize_default_codec_import_gated(self, spark, assets):
        # without PIL in the container, the default codec raises at
        # EXECUTION time with an actionable message; plan construction OK
        df = multimodal.resize_images(assets, 64, 64)
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            df.collect()

    def test_resize_with_injected_codec_end_to_end(self, spark, assets):
        # a pure-Python nearest-neighbor codec over raw grayscale bytes
        # proves the whole mapInPandas path: batch shape, struct meta
        # rewrite, binary round-trip, non-image passthrough
        def toy_codec(payload: bytes, w: int, h: int) -> bytes:
            # fixture payload is a 3x3 row-major grayscale grid
            src_w = src_h = 3
            pix = payload[: src_w * src_h]
            return bytes(
                pix[min(int(y * src_h / h), src_h - 1) * src_w
                    + min(int(x * src_w / w), src_w - 1)]
                for y in range(h)
                for x in range(w)
            )

        grid = bytes(range(10, 19))  # 3x3 grayscale
        df = spark.createDataFrame(
            [
                (1, "image", bytearray(grid), None, ("image/raw", 3, 3, None, None)),
                (2, "video", None, "s3://bucket/v.mp4", ("video/mp4", None, None, None, 3500)),
            ],
            multimodal.ASSET_SCHEMA,
        )
        out = {r["asset_id"]: r for r in
               multimodal.resize_images(df, 2, 2, codec_fn=toy_codec).collect()}
        # nearest-neighbor of a 3x3 grid at 2x2 picks rows/cols 0 and 1
        assert bytes(out[1]["content"]) == bytes([10, 11, 13, 14])
        assert (out[1]["meta"]["width"], out[1]["meta"]["height"]) == (2, 2)
        # non-image rows pass through untouched, nulls stay null
        assert out[2]["content"] is None
        assert out[2]["meta"]["duration_ms"] == 3500
        assert out[2]["content_uri"] == "s3://bucket/v.mp4"


class TestBmpCodec:
    """The stdlib REAL-bytes codec path (r08 verdict #5): actual encoded
    BMP payloads through decode / resize_images / phash_images, no PIL."""

    def test_roundtrip_rgb_with_and_without_padding(self):
        import numpy as np

        rng = np.random.default_rng(7)
        for w in (4, 5):  # stride pad 0 and 3
            img = rng.integers(0, 256, size=(3, w, 3), dtype=np.uint8)
            got = multimodal.bmp_decode(multimodal.bmp_encode(img))
            assert got.dtype == np.uint8 and (got == img).all()

    def test_grayscale_encode_and_luma_decode(self):
        import numpy as np

        g = np.arange(16, dtype=np.uint8).reshape(4, 4)
        payload = multimodal.bmp_encode(g)
        assert payload[:2] == b"BM"
        # gray encode replicates channels; BT.601 luma recovers the value
        back = multimodal.bmp_decode_gray(payload)
        assert np.allclose(back, g.astype("float64"))

    def test_8bit_palette_and_topdown_decode(self):
        import struct

        import numpy as np

        # hand-crafted 2x2 8-bit palette BMP, TOP-DOWN (negative height):
        # palette: 0 -> red, 1 -> green; pixels [[0,1],[1,0]]
        pal = bytes([0, 0, 255, 0]) + bytes([0, 255, 0, 0])  # BGRA entries
        rows = bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0])  # stride-4 padded
        off = 14 + 40 + len(pal)
        hdr = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
        info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 8, 0, len(rows), 0, 0, 2, 0)
        img = multimodal.bmp_decode(hdr + info + pal + rows)
        want = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 255, 0], [255, 0, 0]]], dtype=np.uint8
        )
        assert (img == want).all()

    def test_resize_images_on_real_bmp_bytes(self, spark):
        import numpy as np

        src = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        df = spark.createDataFrame(
            [(1, "image", bytearray(multimodal.bmp_encode(src)), None,
              ("image/bmp", 4, 4, None, None))],
            multimodal.ASSET_SCHEMA,
        )
        (row,) = multimodal.resize_images(df, 2, 2).collect()
        out = multimodal.bmp_decode(bytes(row["content"]))
        # floor nearest-neighbor picks source rows/cols 0 and 2
        assert (out == src[[0, 2]][:, [0, 2]]).all()
        assert (row["meta"]["width"], row["meta"]["height"]) == (2, 2)
        assert bytes(row["content"])[:2] == b"BM"

    def test_phash_images_on_real_bmp_bytes(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        gray = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
        payload = multimodal.bmp_encode(gray)
        df = spark.createDataFrame(
            [(1, "image", bytearray(payload), None, ("image/bmp", 32, 32, None, None))],
            multimodal.ASSET_SCHEMA,
        )
        (row,) = multimodal.phash_images(
            df, decode_fn=multimodal.bmp_decode_gray
        ).collect()
        want = multimodal._phash64(multimodal.bmp_decode_gray(payload))
        want = want - (1 << 64) if want >= (1 << 63) else want
        assert row["phash"] == want


class TestRoundFiveTextOps:
    def test_bm25_scores_hand_computed(self, spark):
        df = spark.createDataFrame(
            [
                (1, "spark spark is fast"),
                (2, "a vector index"),
                (3, "nothing relevant here"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["score"]
            for r in text.bm25_scores(df, ["spark", "vector"], k1=1.2, b=0.75).collect()
        }
        # hand BM25 (Lucene idf), N=3, avgdl=(4+3+3)/3
        n, avgdl = 3.0, 10.0 / 3.0

        def bm25(tf, dfreq, dl):
            idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
            return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

        assert out[1] == round(bm25(2.0, 1.0, 4.0), 4)
        assert out[2] == round(bm25(1.0, 1.0, 3.0), 4)
        assert 3 not in out  # no query term -> not returned

    def test_winnow_shared_run_shares_fingerprint(self, spark):
        # window=4, shingle_n=2 -> any shared run of 5 tokens must share
        # at least one fingerprint (the winnowing guarantee)
        df = spark.createDataFrame(
            [
                (1, "p q r s t u v w x"),
                (2, "zz p q r s t yy ww vv uu"),  # shares the 5-run "p q r s t"
                (3, "totally disjoint token stream here"),
            ],
            "doc_id long, text string",
        )
        fps = {
            r["doc_id"]: set(r["fps"])
            for r in text.winnow_fingerprints(df, "text", "doc_id").collect()
        }
        assert fps[1] & fps[2]
        assert not (fps[1] & fps[3])

    def test_winnow_short_doc_single_fingerprint(self, spark):
        df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
        out = text.winnow_fingerprints(df, "text", "doc_id").first()
        assert len(out["fps"]) == 1  # one shingle -> one window -> one min

    def test_winnow_density(self, spark):
        # winnowing keeps far fewer hashes than shingling: ~2/(w+1)
        df = spark.createDataFrame(
            [(1, " ".join(f"tok{i}" for i in range(200)))], "doc_id long, text string"
        )
        out = text.winnow_fingerprints(df, "text", "doc_id", window=4).first()
        n_shingles = 199
        assert len(out["fps"]) < n_shingles * 0.6

    def test_group_centroids_exact_means(self, spark):
        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], 0),
                (2, [3.0, 4.0], 0),
                (3, [10.0, 20.0], 1),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        out = similarity.group_centroids(df, "label", "embedding", dim=2).collect()
        got = {(r["label"], r["pos"]): r["centroid"] for r in out}
        assert got == {(0, 0): 2.0, (0, 1): 3.0, (1, 0): 10.0, (1, 1): 20.0}

    def test_quantize_embeddings_roundtrip(self, spark):
        df = spark.createDataFrame(
            [
                (1, [1.0, -0.5, 0.25, 0.0]),
                (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector edge
                (3, [-2.0, 2.0, 1.0, -1.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
        # max|x|=1.0 -> codes are floor(x*127 + 0.5)
        assert out[1]["q"] == [127, -63, 32, 0]
        assert abs(out[1]["scale"] - 1.0 / 127) < 1e-12
        # zero vector: all-zero codes, zero scale, no NaN/div-by-zero
        assert out[2]["q"] == [0, 0, 0, 0] and out[2]["scale"] == 0.0
        # symmetric range: extremes land exactly on +/-127
        assert out[3]["q"] == [-127, 127, 64, -63]
        # dequantization error bounded by half a step
        step = out[3]["scale"]
        orig = [-2.0, 2.0, 1.0, -1.0]
        for code, x in zip(out[3]["q"], orig):
            assert abs(code * step - x) <= step / 2 + 1e-9

    def test_group_pca_variance_1d_manifold(self, spark):
        # label 0 lies exactly on a line -> top eigenvalue carries ALL
        # variance; label 1 is isotropic in 2-D -> share 0.5
        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], 0), (2, [2.0, 4.0], 0), (3, [3.0, 6.0], 0),
                (4, [1.0, 0.0], 1), (5, [-1.0, 0.0], 1),
                (6, [0.0, 1.0], 1), (7, [0.0, -1.0], 1),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        out = {r["label"]: r for r in similarity.group_pca_variance(df).collect()}
        assert out[0]["top_eig_share"] == 1.0 and out[0]["n_vecs"] == 3
        assert abs(out[1]["top_eig_share"] - 0.5) < 1e-9

    def test_group_pca_variance_singleton_group(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0], 0)], "vec_id long, embedding array<float>, label int"
        )
        r = similarity.group_pca_variance(df).collect()[0]
        assert (r["n_vecs"], r["top_eig_share"], r["total_var"]) == (1, 1.0, 0.0)

    def test_ngram_jaccard_pack_ids_identical(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
        from nyc_bikeshare_datawarehouse_spark.functions import dedup, text as tx
        from pyspark.sql import functions as F

        d = load_table(spark, sf_dir, "documents").filter(
            F.size(tx.tokens("text")) >= 2
        )
        plain = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", shingle_n=2, min_jaccard=0.5).collect()))
        packed = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", shingle_n=2, min_jaccard=0.5, pack_ids=True).collect()))
        assert plain == packed and len(plain) > 0


class TestPackIdsGuards:
    def test_pack_ids_int_typed_ids_identical(self, spark):
        # IntegerType ids used to shift within 32 bits (JVM shift-mod-32),
        # producing garbage packed keys even for tiny values; the long cast
        # makes the documented 31-bit value range the only precondition.
        from nyc_bikeshare_datawarehouse_spark.functions import dedup

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps"),
             (3, "totally different words here now")],
            "doc_id int, text string",
        )
        plain = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=2, min_jaccard=0.3).collect()))
        packed = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=2, min_jaccard=0.3, pack_ids=True).collect()))
        assert plain == packed and len(plain) == 1

    def test_pack_ids_overflow_raises_loudly(self, spark):
        # ids >= 2^31 would silently collide in the packed key: the plan
        # must fail the job with a clear message instead.
        from nyc_bikeshare_datawarehouse_spark.functions import dedup

        big = 1 << 31
        df = spark.createDataFrame(
            [(big, "the quick brown fox jumps"), (big + 1, "the quick brown fox leaps")],
            "doc_id long, text string",
        )
        with pytest.raises(Exception, match="pack_ids requires"):
            dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", shingle_n=2, min_jaccard=0.1, pack_ids=True
            ).collect()


class TestMaxDocCountPruning:
    def test_count_and_frac_thresholds_agree(self, spark):
        # on a fixed corpus, frac f and count ceil(f*N) prune the same
        # shingles; the absolute form is the scale-invariant calibration
        from nyc_bikeshare_datawarehouse_spark.functions import dedup

        rows = [(i, f"common word unique{i} tail{i}") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        by_frac = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=2, min_jaccard=0.01,
            max_doc_frac=0.5).collect()))
        by_count = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=2, min_jaccard=0.01,
            max_doc_count=5).collect()))
        assert by_frac == by_count
        # 'common word' appears in all 10 docs and must have been pruned:
        # without pruning every doc-pair shares it -> 45 pairs
        unpruned = dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=2, min_jaccard=0.01).collect()
        assert len(unpruned) == 45 and len(by_count) == 0

    def test_either_threshold_prunes(self, spark):
        from nyc_bikeshare_datawarehouse_spark.functions import dedup

        rows = [(i, f"common word unique{i} tail{i}") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # frac alone too lax (1.1 never fires), count=5 still prunes
        both = dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=2, min_jaccard=0.01,
            max_doc_frac=1.1, max_doc_count=5).collect()
        assert len(both) == 0


class TestWavAudio:
    """Stdlib REAL-bytes audio path (r09 verdict missing #2): actual WAV
    containers through synth_wav / audio_features; the feature math is
    replayed pure-Python, independent of the numpy batch path."""

    @staticmethod
    def _py_features(samples, rate):
        n = len(samples)
        sq = sum(v * v for v in samples)
        import math
        zc = sum(
            1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0)
        )
        ac1 = (
            sum(samples[i] * samples[i + 1] for i in range(n - 1)) // (n - 1)
            if n > 1 else 0
        )
        return {
            "sample_rate": rate,
            "n_samples": n,
            "duration_ms": n * 1000 // rate,
            "rms": math.isqrt(sq // n) if n else 0,
            "zero_crossings": zc if n > 1 else 0,
            "ac_lag1": ac1,
            "peak": max((abs(v) for v in samples), default=0),
        }

    def test_wav_roundtrip(self):
        samples = [0, 1000, -1000, 32767, -32768, 5]
        rate, back = multimodal.wav_decode(multimodal.wav_encode(samples, 8000))
        assert rate == 8000
        assert back == samples

    def test_audio_features_match_python_replay(self, spark):
        texts = [
            (1, "hello world hello"),
            (2, "zz"),
            (3, "a b c d e f g h i j " * 40),  # > 1 Arrow batch element, long
            (4, ""),  # empty text -> single \x00 sample via text_pcm_samples
        ]
        df = spark.createDataFrame(texts, "asset_id long, text string")
        assets = df.select(
            "asset_id", F.encode("text", "utf-8").alias("content")
        )
        wavs = multimodal.synth_wav(assets, rate=8000, limit=2048)
        got = {r["asset_id"]: r.asDict() for r in
               multimodal.audio_features(wavs).collect()}
        for aid, txt in texts:
            samples = multimodal.text_pcm_samples(txt.encode("utf-8"), 2048)
            want = self._py_features(samples, 8000)
            for k, v in want.items():
                assert got[aid][k] == v, (aid, k, got[aid][k], v)

    def test_audio_features_negative_ac_for_alternating_signal(self, spark):
        # a Nyquist-rate square wave: maximal zero crossings, strongly
        # negative lag-1 autocorrelation — the spectral proxy must sign it
        samples = [20000 if i % 2 == 0 else -20000 for i in range(100)]
        payload = multimodal.wav_encode(samples, 16000)
        df = spark.createDataFrame(
            [(1, "audio", bytearray(payload))],
            "asset_id long, modality string, content binary",
        )
        (row,) = multimodal.audio_features(df).collect()
        assert row["zero_crossings"] == 99
        assert row["ac_lag1"] < 0
        assert row["peak"] == 20000
        assert row["duration_ms"] == 100 * 1000 // 16000


class TestAudioFingerprint:
    def test_fingerprint_matches_pure_python_replay(self, spark):
        texts = [(1, "hello world hello"), (2, "a b c " * 100), (3, "zz")]
        df = spark.createDataFrame(texts, "asset_id long, text string")
        assets = df.select("asset_id", F.encode("text", "utf-8").alias("content"))
        wavs = multimodal.synth_wav(assets, rate=8000, limit=2048)
        got = {r["asset_id"]: r["afp"] for r in
               multimodal.audio_fingerprint(wavs).collect()}
        for aid, txt in texts:
            samples = multimodal.text_pcm_samples(txt.encode("utf-8"), 2048)
            assert got[aid] == multimodal._audio_fp64(samples), aid

    def test_neardup_finds_identical_audio_via_banded_join(self, spark):
        # identical samples -> identical fingerprint -> hamming 0 through
        # the hash-agnostic banded join; a very different stream must not
        # pair at max_hamming=4
        quiet = [100] * 400
        loud_ramp = [((i * 37) % 200 - 100) * 300 for i in range(400)]
        rows = [
            (1, bytearray(multimodal.wav_encode(quiet, 8000))),
            (2, bytearray(multimodal.wav_encode(quiet, 8000))),
            (3, bytearray(multimodal.wav_encode(loud_ramp, 8000))),
        ]
        df = spark.createDataFrame(rows, "asset_id long, content binary")
        fps = multimodal.audio_fingerprint(df).localCheckpoint(eager=True)
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 multimodal.phash_near_dup(
                     fps, max_hamming=4, id_col="asset_id", hash_col="afp"
                 ).collect()}
        assert pairs.get((1, 2)) == 0
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_malformed_wav_strict_fails_lenient_drops(self, spark):
        import pytest

        good = bytearray(multimodal.wav_encode([100, -100] * 50, 8000))
        rows = [
            (1, good),
            (2, bytearray(b"not a wav at all")),  # container parse fails
            (3, good),
        ]
        df = spark.createDataFrame(rows, "asset_id long, content binary")
        # default strict contract: one bad payload fails the whole stage,
        # surfacing the container parse error
        with pytest.raises(Exception, match="RIFF"):
            multimodal.audio_features(df).collect()
        with pytest.raises(Exception, match="RIFF"):
            multimodal.audio_fingerprint(df).collect()
        # lenient contract: bad payloads drop, good assets still resolve
        feats = multimodal.audio_features(df, strict=False).collect()
        assert sorted(r["asset_id"] for r in feats) == [1, 3]
        fps = multimodal.audio_fingerprint(df, strict=False).collect()
        assert sorted(r["asset_id"] for r in fps) == [1, 3]
        assert fps[0]["afp"] == fps[1]["afp"]  # identical payloads agree


def test_srp_planes_for_occupancy_rule():
    from nyc_bikeshare_datawarehouse_spark.functions.similarity import srp_planes_for

    # at or below the base corpus: the shipping default
    assert srp_planes_for(5000) == 16
    assert srp_planes_for(100) == 16
    # +1 bit per band per doubling: 10x corpus = ceil(log2(10)) = 4 bits
    assert srp_planes_for(50_000) == 16 + 4 * 4
    # exact doubling boundary: one extra bit per band
    assert srp_planes_for(10_000) == 16 + 4 * 1
    assert srp_planes_for(10_001) == 16 + 4 * 2
    # expected bucket occupancy n / 2^(planes/bands) stays within 2x of
    # the base (5000/16 buckets) while under the 62-plane signature cap
    base_occ = 5000 / 2 ** (16 / 4)
    for n in (5_000, 50_000, 500_000, 5_000_000):
        p = srp_planes_for(n)
        occ = n / 2 ** (p / 4)
        assert occ <= 2 * base_occ, (n, p, occ)
    # the cap: srp_signature packs bits into a signed 64-bit long (62 is
    # the last safe bit) — past it, grow BANDS instead
    assert srp_planes_for(50_000_000) == 62
    assert srp_planes_for(10**15) == 62


class TestMinhashAccuracy:
    def _docs(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
            (3, "alpha beta gamma delta epsilon eta"),    # near dup of 1
            (4, "one two three four five six"),
            (5, "one two three four five six"),            # exact dup of 4
            (6, "totally different words entirely here now"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_est_error_zero_on_identical_docs(self, spark):
        got = {(r["id_a"], r["id_b"]): r.asDict() for r in
               dedup.minhash_est_error(self._docs(spark)).collect()}
        # identical shingle sets -> identical signatures: est 10000,
        # exact 10000, error 0 — and both dup pairs must surface
        for pair in ((1, 2), (4, 5)):
            assert pair in got
            assert got[pair]["est_bp"] == 10000
            assert got[pair]["jac_bp"] == 10000
            assert got[pair]["err_bp"] == 0
        # every row's error is consistent with its own fields
        for d in got.values():
            assert d["err_bp"] == abs(d["est_bp"] - d["jac_bp"])
            assert 0 <= d["est_bp"] <= 10000 and 0 <= d["jac_bp"] <= 10000

    def test_recall_report_identical_dups_never_missed(self, spark):
        (row,) = dedup.lsh_recall_report(
            self._docs(spark), min_jaccard=0.5
        ).collect()
        # banding recall floor: an IDENTICAL pair shares every band, so
        # with two exact-dup pairs in the corpus tp >= 2; fn counts only
        # sub-identical true pairs the bands may miss
        assert row["tp"] >= 2
        assert row["tp"] + row["fn"] >= 2
        assert row["recall_bp"] == row["tp"] * 10000 // (row["tp"] + row["fn"])


class TestMMRSelect:
    def _emb(self, spark):
        # probe at e0; a tight cluster around e0 (a, b) and two
        # orthogonal-ish vectors (c, d): plain top-2 picks the cluster,
        # MMR must pick one cluster member then jump to the orthogonal one
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),          # probe
            (1, [0.99, 0.1, 0.0, 0.0]),         # cluster near probe
            (2, [0.98, 0.12, 0.0, 0.0]),        # cluster near probe
            (3, [0.5, 0.0, 0.8, 0.0]),          # off-axis, still relevant
            (4, [0.0, 0.0, 0.0, 1.0]),          # orthogonal
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_mmr_diversifies_vs_plain_topk(self, spark):
        e = self._emb(spark)
        probe = e.filter(F.col("vec_id") == 0)
        got = similarity.mmr_select(
            e.filter(F.col("vec_id") != 0), probe, k=3, shortlist=4, lam_pct=50
        ).collect()
        picks = [r["id"] for r in got]
        assert picks[0] == 1  # rank 1 is always the plain argmax relevance
        # with lam 0.5 the second pick must NOT be the near-duplicate 2
        # (maxsim to 1 is ~1.0); the off-axis 3 wins
        assert picks[1] == 3
        assert len(picks) == len(set(picks)) == 3
        # ranks are 1..k in order, maxsim of rank 1 is 0
        assert [r["rank"] for r in got] == [1, 2, 3]
        assert got[0]["maxsim_u"] == 0
        # score accounting holds on every row
        for r in got:
            assert r["score_u"] == 50 * r["rel_u"] - 50 * r["maxsim_u"]

    def test_mmr_k_capped_by_shortlist(self, spark):
        e = self._emb(spark)
        probe = e.filter(F.col("vec_id") == 0)
        got = similarity.mmr_select(
            e.filter(F.col("vec_id") != 0), probe, k=10, shortlist=2
        ).collect()
        assert len(got) == 2  # greedy exhausts the shortlist, no crash


def test_incremental_dedup_dfreq_contract_and_pruned_equivalence(spark):
    import pytest

    # boilerplate bigram in every corpus doc: with pruning at df>3 the
    # hot posting list never joins; a delta doc whose ONLY corpus
    # overlap is the boilerplate is admitted (kept-universe semantics),
    # a real near-dup is still rejected through its rare shingles
    corpus = spark.createDataFrame(
        [(i, f"stop word body{i} tail{i}") for i in range(1, 9)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(100, "stop word fresh content"),       # only hot overlap -> admitted
         (101, "stop word body1 tail1 extra")],  # near-dup of corpus 1
        "doc_id long, text string",
    )
    dfreq = dedup.shingle_dfreq(corpus)
    got = dedup.incremental_dedup(
        delta, corpus, min_jaccard=0.4, max_doc_count=3, dfreq=dfreq
    )
    assert [r["doc_id"] for r in got.collect()] == [100]
    # same result letting the function recompute dfreq itself
    got2 = dedup.incremental_dedup(delta, corpus, min_jaccard=0.4, max_doc_count=3)
    assert [r["doc_id"] for r in got2.collect()] == [100]
    with pytest.raises(ValueError, match="ignored"):
        dedup.incremental_dedup(delta, corpus, dfreq=dfreq)


class TestTvidVideo:
    """TVID container codec + scene stats: the closed-form pixels make a
    pure-Python replay possible WITHOUT touching the container — together
    with the DuckDB oracle that's three independent witnesses."""

    @staticmethod
    def closed_form_pixels(doc_id, n_chars, n_frames=6, n_px=256):
        s = (doc_id * 31 + n_chars) % 997
        return [
            [(s + (f + 1) * (7 * i + 13)) % 251 for i in range(n_px)]
            for f in range(n_frames)
        ]

    def test_tvid_roundtrip_lossless(self):
        import numpy as np

        frames = [
            np.arange(48, dtype=np.uint8).reshape(6, 8),
            (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5) % 251,
        ]
        payload = multimodal.tvid_encode(frames, frame_ms=125)
        ms, back = multimodal.tvid_decode(payload)
        assert ms == 125 and len(back) == 2
        for a, b in zip(frames, back):
            assert (a == b).all()

    def test_tvid_rejects_garbage_and_ragged(self):
        import numpy as np

        with pytest.raises(ValueError, match="magic"):
            multimodal.tvid_decode(b"not a video")
        with pytest.raises(ValueError, match="ragged"):
            multimodal.tvid_encode(
                [np.zeros((4, 4), np.uint8), np.zeros((4, 5), np.uint8)], 100
            )
        with pytest.raises(ValueError, match="at least one"):
            multimodal.tvid_encode([], 100)

    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [(7, 120), (8, 48), (9, 300)], "doc_id long, n_chars long"
        )

    def test_synth_video_matches_closed_form(self, spark, docs):
        import numpy as np

        rows = {r["asset_id"]: r for r in multimodal.synth_video(docs).collect()}
        assert rows[7]["modality"] == "video"
        assert rows[7]["meta"]["duration_ms"] == 6 * 200
        _, frames = multimodal.tvid_decode(bytes(rows[7]["content"]))
        expect = self.closed_form_pixels(7, 120)
        assert len(frames) == 6
        for f in range(6):
            assert frames[f].reshape(-1).tolist() == expect[f]

    def test_scene_stats_match_pure_python_replay(self, spark, docs):
        out = {
            r["asset_id"]: r
            for r in multimodal.video_scene_stats(
                multimodal.synth_video(docs), cut_threshold=21000
            ).collect()
        }
        for doc_id, n_chars in [(7, 120), (8, 48), (9, 300)]:
            px = self.closed_form_pixels(doc_id, n_chars)
            diffs = [
                sum(abs(a - b) for a, b in zip(px[f + 1], px[f]))
                for f in range(5)
            ]
            r = out[doc_id]
            assert r["n_frames"] == 6
            assert r["total_motion"] == sum(diffs)
            assert r["n_cuts"] == sum(1 for d in diffs if d > 21000)
            assert r["max_diff"] == max(diffs)

    def test_scene_stats_strict_contract(self, spark):
        bad = spark.createDataFrame(
            [(1, "video", bytearray(b"JUNK"), None, None)],
            multimodal.ASSET_SCHEMA,
        )
        with pytest.raises(Exception, match="magic"):
            multimodal.video_scene_stats(bad, cut_threshold=1).collect()
        assert multimodal.video_scene_stats(
            bad, cut_threshold=1, strict=False
        ).count() == 0


class TestImageChecksum:
    def test_resize_checksum_matches_pure_python(self, spark):
        import numpy as np

        docs = spark.createDataFrame(
            [(3, 99), (4, 200)], "doc_id long, n_chars long"
        )
        out = {
            r["asset_id"]: r
            for r in multimodal.image_checksum(
                multimodal.resize_images(
                    multimodal.synth_image(docs, 16, 16), 8, 8
                )
            ).collect()
        }
        for doc_id, n_chars in [(3, 99), (4, 200)]:
            s = (doc_id * 31 + n_chars) % 997
            expect = sum(
                (r * 8 + c + 1) * ((s + 7 * (32 * r + 2 * c) + 13) % 251)
                for r in range(8)
                for c in range(8)
            )
            assert out[doc_id]["px_checksum"] == expect
            assert (out[doc_id]["width"], out[doc_id]["height"]) == (8, 8)

    def test_checksum_is_position_sensitive(self):
        import numpy as np

        a = np.zeros((4, 4), np.uint8)
        a[0, 0] = 9
        b = np.zeros((4, 4), np.uint8)
        b[0, 1] = 9  # same multiset of pixels, different position
        ck = lambda img: int(
            (multimodal.bmp_decode(multimodal.bmp_encode(img))[:, :, 0]
             .astype("int64").reshape(-1)
             * (np.arange(16) + 1)).sum()
        )
        assert ck(a) != ck(b)

    def test_strict_contract(self, spark):
        bad = spark.createDataFrame(
            [(1, "image", bytearray(b"JUNK"), None, None)],
            multimodal.ASSET_SCHEMA,
        )
        with pytest.raises(Exception, match="BMP|magic"):
            multimodal.image_checksum(bad).collect()
        assert multimodal.image_checksum(bad, strict=False).count() == 0


class TestSrpScaledPlanes:
    """q_embed_near_dup_scaled's DYNAMIC regime (n > 5000 → more planes).

    The driver gate only ever sees n ≤ 5000 (both gate SFs resolve to the
    16-plane base), so the data-dependent half of the contract — plane
    count from COUNT(*), SQL-generated hyperplanes matching the Python
    xorshift mix bit-for-bit, band width np//bands — is pinned here on a
    synthetic 6000-row corpus (np = 20) against the SAME oracle SQL the
    gate runs."""

    def test_integer_rule_matches_float_form(self):
        import math

        for n in list(range(1, 50_000, 7)) + [5000, 5001, 10_000, 10_001, 640_000]:
            want = (
                16
                if n <= 5000
                else min(62, 16 + 4 * math.ceil(math.log2(n / 5000)))
            )
            assert similarity.srp_planes_for(n) == want, n

    def test_dynamic_regime_matches_oracle(self, spark, tmp_path):
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from nyc_bikeshare_datawarehouse_spark.plans.oracles import (
            _embed_near_dup_scaled_sql,
        )
        from nyc_bikeshare_datawarehouse_spark.plans.queries import (
            q_embed_near_dup_scaled,
        )

        n, dim = 6000, 64
        rng = np.random.RandomState(7)
        # centered gaussians: realistic cosine spread (~N(0, 1/8)) so the
        # verified pair list is the sparse top tail, not all ~18M pairs
        # (positive-orthant vectors all sit at cosine ≈ 0.75 and the
        # collect would pull the entire candidate set)
        emb = rng.randn(n, dim).astype(np.float32)
        tbl = pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [row for row in emb.tolist()], pa.list_(pa.float32())
                ),
            }
        )
        pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

        assert similarity.srp_planes_for(n) == 20  # the dynamic regime

        got = sorted(
            (r["id_a"], r["id_b"], r["cosine_sim"])
            for r in q_embed_near_dup_scaled(spark, str(tmp_path)).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet('"
            + str(tmp_path / "embeddings.parquet")
            + "')"
        )
        want = sorted(map(tuple, con.execute(_embed_near_dup_scaled_sql()).fetchall()))
        assert len(got) > 0
        assert got == want
