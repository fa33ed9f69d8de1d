"""Tests for the graph (PageRank/TextRank) and data-selection families."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions import graph, selection, similarity, text


def _pagerank_reference(edges, iters=10):
    """Pure-Python replay of the fixed-point update for a tiny graph.
    edges: list of (src, dst, w) — directed, as fed to pagerank()."""
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    score = {n: graph.UNIT for n in nodes}
    base = (graph.UNIT // graph.DAMP_DEN) * (graph.DAMP_DEN - graph.DAMP_NUM)
    for _ in range(iters):
        tot = {n: 0 for n in nodes}
        for s, d, w in edges:
            tot[d] += (score[s] * w) // outw[s]
        score = {n: base + (graph.DAMP_NUM * tot[n]) // graph.DAMP_DEN for n in nodes}
    return score


class TestPagerank:
    def test_matches_pure_python_fixpoint(self, spark):
        edges = [("a", "b", 3), ("b", "a", 3), ("b", "c", 1),
                 ("c", "b", 1), ("c", "a", 2), ("a", "c", 2)]
        df = spark.createDataFrame(edges, "src string, dst string, weight long")
        got = {r["node"]: r["score_nano"] for r in graph.pagerank(df, iters=10).collect()}
        assert got == _pagerank_reference(edges, iters=10)

    def test_hub_outranks_leaf(self, spark):
        # star graph: center receives from every leaf
        edges = [(f"l{i}", "hub", 1) for i in range(5)] + [
            ("hub", f"l{i}", 1) for i in range(5)
        ]
        df = spark.createDataFrame(edges, "src string, dst string, weight long")
        got = {r["node"]: r["score_nano"] for r in graph.pagerank(df, iters=10).collect()}
        assert got["hub"] > got["l0"]
        assert len({got[f"l{i}"] for i in range(5)}) == 1  # symmetric leaves tie

    def test_token_adjacency_undirected_symmetric(self, spark):
        df = spark.createDataFrame([("a b a",)], "text string")
        got = {(r["src"], r["dst"]): r["weight"]
               for r in graph.token_adjacency_edges(df).collect()}
        # "a b" + "b a" fold into one unordered pair of weight 2, re-emitted
        # in both directions with the SAME weight
        assert got == {("a", "b"): 2, ("b", "a"): 2}

    def test_self_loops_dropped(self, spark):
        df = spark.createDataFrame([("a a b",)], "text string")
        got = {(r["src"], r["dst"]) for r in graph.token_adjacency_edges(df).collect()}
        assert ("a", "a") not in got and ("a", "b") in got


class TestSemdedup:
    def test_exact_duplicate_pruned_lowest_id_kept(self, spark):
        rows = [
            (0, [1.0, 0.0]), (1, [0.0, 1.0]),     # the 2-cell codebook
            (2, [1.0, 0.001]),                     # near-dup of 0's cell rep
            (3, [1.0, 0.0]),                       # exact dup of 0
            (4, [0.0, -1.0]),                      # anti-aligned: own ball
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: (r["cell"], r["kept"])
               for r in similarity.semdedup(df, n_clusters=2, tau=0.95).collect()}
        assert got[0] == (0, True)          # lowest id in its epsilon-ball
        assert got[2] == (0, False)         # cos(0,2) ~ 1 > tau
        assert got[3] == (0, False)
        assert got[1] == (1, True)
        assert got[4][1] is True            # cos to cellmates <= 0 < tau

    def test_kept_count_monotone_in_tau(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
        e = load_table(spark, sf_dir, "embeddings")
        loose = similarity.semdedup(e, tau=0.95).filter("kept").count()
        tight = similarity.semdedup(e, tau=0.7).filter("kept").count()
        assert tight <= loose

    def test_two_level_matches_pure_python_replay(self, spark):
        # full replay of the hierarchical quantizer + prune in numpy:
        # coarse = first s by id, fine = per-cell first s members by id,
        # both argmaxes on round(dot/|c|, 6) with ties to lowest index,
        # kept = no >= tau cosine to a lower-id (c1, c2)-mate
        import numpy as np

        rng = np.random.default_rng(11)
        n, dim, tau = 300, 8, 0.8
        vecs = rng.standard_normal((n, dim))
        vecs[50] = vecs[10]  # force an exact duplicate
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        got = {r["vec_id"]: (r["coarse"], r["fine"], r["kept"])
               for r in similarity.semdedup_two_level(df, tau=tau).collect()}

        import math
        s = max(2, math.isqrt(max(4, n // 64)))
        assert s == similarity.two_level_cell_counts(n)

        def argmax6(v, cents):
            best_d, best_i = float("-inf"), -1
            for i, c in enumerate(cents):
                d = round(float(v @ c) / float(np.sqrt(c @ c)), 6)
                if d > best_d:
                    best_d, best_i = d, i
            return best_i

        c1 = {i: argmax6(vecs[i], vecs[:s]) for i in range(n)}
        fine_cents = {}
        for cell in set(c1.values()):
            members = sorted(i for i in range(n) if c1[i] == cell)[:s]
            fine_cents[cell] = [vecs[i] for i in members]
        c2 = {i: argmax6(vecs[i], fine_cents[c1[i]]) for i in range(n)}
        removed = set()
        for j in range(n):
            for i in range(j):
                if (c1[i], c2[i]) == (c1[j], c2[j]):
                    cos = round(
                        float(vecs[i] @ vecs[j])
                        / float(np.sqrt(vecs[i] @ vecs[i]) * np.sqrt(vecs[j] @ vecs[j])),
                        6,
                    )
                    if cos >= tau:
                        removed.add(j)
                        break
        want = {i: (c1[i], c2[i], i not in removed) for i in range(n)}
        assert got == want
        assert got[50][2] is False  # the planted duplicate is pruned


class TestSelection:
    @pytest.fixture()
    def corpus(self, spark):
        # target-looking docs share 'alpha beta'; raw docs share 'zig zag'
        rows = [
            (0, "alpha beta alpha beta gamma", "en"),
            (1, "alpha beta delta alpha beta", "en"),
            (2, "zig zag zig zag zig", "de"),
            (3, "zig zag other zig zag", "de"),
            (4, "alpha beta zig zag mixed", "fr"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_dsir_target_features_score_higher(self, spark, corpus):
        out = {r["doc_id"]: r["weight"]
               for r in selection.dsir_weights(corpus, F.col("lang") == "en").collect()}
        # doc 4 mixes both; target-only docs must outscore raw-only docs
        assert out[0] > out[2] and out[1] > out[3]
        assert out[2] < 0 < out[0]

    def test_nb_separates_classes(self, spark):
        rows = [(i, "good clean prose here", ) for i in range(0, 8, 2)] + [
            (i, "spam spam spam spam", ) for i in range(1, 8, 2)
        ] + [(8, "good clean prose here",), (9, "spam spam spam spam",)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        train = df.filter("doc_id < 8")
        score = df.filter("doc_id >= 8")
        label = F.lit(True) == (F.instr("text", "spam") == 0)
        out = {r["doc_id"]: r["nb_score"]
               for r in selection.nb_quality_scores(train, score, label).collect()}
        assert out[8] > 0 > out[9]

    def test_perplexity_buckets_partition_language(self, spark, sf_dir):
        from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
        d = load_table(spark, sf_dir, "documents")
        out = selection.perplexity_buckets(d).collect()
        per_lang = {}
        for r in out:
            per_lang.setdefault(r["lang"], []).append(r)
            assert r["min_lp"] <= r["max_lp"]
        for lang, rows in per_lang.items():
            assert [r["bucket"] for r in rows] == [1, 2, 3]
            # head bucket is the most fluent: its minimum beats tail's max
            assert rows[0]["min_lp"] >= rows[2]["max_lp"]


class TestTfidfCosine:
    def test_identical_docs_similar_and_threshold_cuts(self, spark):
        rows = [
            (1, "rare terms shared exactly here"),
            (2, "rare terms shared exactly here"),
            (3, "completely unrelated other words"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): r["cosine_sim"]
               for r in similarity.tfidf_cosine_pairs(df, min_cosine=0.5, max_df=None).collect()}
        assert (1, 2) in got and got[(1, 2)] >= 0.999
        assert (1, 3) not in got and (2, 3) not in got

    def test_max_df_drops_stopword_only_pairs(self, spark):
        # docs share ONLY the ubiquitous token 'the' (df=3 > max_df=2)
        rows = [(1, "the alpha"), (2, "the beta"), (3, "the gamma")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert similarity.tfidf_cosine_pairs(df, min_cosine=0.01, max_df=2).count() == 0
        assert similarity.tfidf_cosine_pairs(df, min_cosine=0.01, max_df=None).count() == 3


class TestBoilerplate:
    def test_recurring_segment_stripped_order_kept(self, spark):
        tpl = "subscribe to our newsletter now"          # 5 tokens -> seg of 5
        rows = [
            (1, f"unique one {tpl}", "s"),
            (2, f"{tpl} unique two content", "s"),
            (3, f"other text then {tpl}", "s"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        # seg_len=5 aligns the template only for doc 2 (segment boundaries
        # are positional) — use seg_len=1 so recurrence is per-token
        out = {r["doc_id"]: r for r in text.remove_boilerplate(
            df, seg_len=1, min_docs=3).collect()}
        for did, kept in [(1, "unique one"), (2, "unique two content"),
                          (3, "other text then")]:
            assert out[did]["clean_text"] == kept
            assert out[did]["n_removed"] == 5
        assert out[1]["n_segments"] == 7

    def test_below_threshold_untouched(self, spark):
        rows = [(1, "a b", "s"), (2, "a b", "s")]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = text.remove_boilerplate(df, seg_len=1, min_docs=3).collect()
        assert all(r["n_removed"] == 0 for r in out)

    def test_empty_doc_emits_no_phantom_segments(self, spark):
        # sequence(0, -1) DESCENDS in Spark: without the size>=1 guard a
        # zero-token doc produced two phantom '' segments while SQL
        # range(0,0) is empty (ADVICE r08). Empty/whitespace-only docs
        # must vanish from the output in both engines.
        rows = [(1, "", "s"), (2, "   ", "s"), (3, "real content here", "s")]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r["doc_id"]: r for r in
               text.remove_boilerplate(df, seg_len=2, min_docs=3).collect()}
        assert set(out) == {3}
        assert out[3]["n_segments"] == 2 and out[3]["n_removed"] == 0


class TestPhash:
    def test_spark_matches_pure_python(self, spark):
        from nyc_bikeshare_datawarehouse_spark.functions import multimodal as mm
        payloads = [b"alpha", b"beta", b"alpha"]
        df = spark.createDataFrame(
            [(i, "image", p) for i, p in enumerate(payloads)],
            "asset_id long, modality string, content binary",
        )
        got = {r["asset_id"]: r["phash"] for r in mm.phash_images(df).collect()}
        for i, p in enumerate(payloads):
            expect = mm._phash64(mm._fake_decode_gray(p))
            expect = expect - (1 << 64) if expect >= (1 << 63) else expect
            assert got[i] == expect
        assert got[0] == got[2] != got[1]

    def test_banding_lossless_vs_brute_force(self, spark):
        import itertools
        base = 0x0123456789ABCDEF
        # neighbors at controlled hamming distances 0..8
        hashes = [(0, base)]
        for k in range(1, 9):
            h = base
            for bit in range(k):
                h ^= 1 << (bit * 7)      # spread flips across bands
            hashes.append((k, h))
        # an identical-hash clique (the within-group hamming-0 expansion)
        # plus one asset 2 bits from it; ~base is 56+ bits from the rest
        hashes += [(9, ~base), (10, ~base), (11, ~base), (12, ~base ^ (1 << 3) ^ (1 << 40))]
        df = spark.createDataFrame(hashes, "asset_id long, phash long")
        from nyc_bikeshare_datawarehouse_spark.functions.multimodal import phash_near_dup
        brute = {}
        for (ia, ha), (ib, hb) in itertools.combinations(hashes, 2):
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                brute[(min(ia, ib), max(ia, ib))] = d
        for conjunction in (True, False):
            got = {(r["id_a"], r["id_b"]): r["hamming"]
                   for r in phash_near_dup(
                       df, max_hamming=6, conjunction=conjunction).collect()}
            assert got == brute
        assert (0, 6) in got and (0, 7) not in got  # threshold edge
        assert got[(9, 11)] == 0 and got[(10, 12)] == 2  # clique + neighbor

    def test_max_hamming_above_banding_guarantee_rejected(self, spark):
        from nyc_bikeshare_datawarehouse_spark.functions.multimodal import phash_near_dup
        df = spark.createDataFrame([(0, 1)], "asset_id long, phash long")
        with pytest.raises(ValueError):
            phash_near_dup(df, max_hamming=8)
        # conjunction (default) guarantees only <= 6; radius 7 needs the
        # single-chunk scheme
        with pytest.raises(ValueError):
            phash_near_dup(df, max_hamming=7)
        phash_near_dup(df, max_hamming=7, conjunction=False)

    def test_conjunction_and_single_chunk_agree_at_radius6(self, spark):
        # same brute-force corpus as above: the exact final filter makes
        # the candidate scheme output-invisible at a covered radius
        base = 0x0123456789ABCDEF
        hashes = [(k, base ^ sum(1 << (bit * 7) for bit in range(k)))
                  for k in range(9)]
        df = spark.createDataFrame(hashes, "asset_id long, phash long")
        from nyc_bikeshare_datawarehouse_spark.functions.multimodal import phash_near_dup
        conj = {(r["id_a"], r["id_b"]): r["hamming"]
                for r in phash_near_dup(df, max_hamming=6).collect()}
        single = {(r["id_a"], r["id_b"]): r["hamming"]
                  for r in phash_near_dup(df, max_hamming=6, conjunction=False).collect()}
        assert conj == single and conj


class TestBfs:
    def test_path_graph_hops(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
        both = edges + [(d, s) for s, d in edges]
        df = spark.createDataFrame(both, "src string, dst string")
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r["node"]: r["hops"] for r in graph.bfs_hops(df, seeds, max_hops=3).collect()}
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3}  # e,f unreached in 3

    def test_multi_seed_takes_minimum(self, spark):
        df = spark.createDataFrame([("a", "b"), ("c", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("a",), ("c",)], "node string")
        got = {r["node"]: r["hops"] for r in graph.bfs_hops(df, seeds, max_hops=2).collect()}
        assert got == {"a": 0, "c": 0, "b": 1}


class TestHardNegativesEntropy:
    def test_hard_negatives_exclude_same_label_and_rank(self, spark):
        rows = [
            (0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1),   # codebook (2 cells)
            (2, [0.99, 0.1], 0),                       # cell 0, label 0
            (3, [0.98, 0.15], 1),                      # cell 0, label 1
            (4, [0.97, 0.2], 1),                       # cell 0, label 1
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
        got = similarity.hard_negatives(df, k=2, n_clusters=2).collect()
        by_anchor = {}
        for r in got:
            assert r["label"] != r["neg_label"]
            by_anchor.setdefault(r["id"], []).append((r["rank"], r["neg_id"]))
        # anchor 2 (label 0) ranks its two different-label cellmates
        assert sorted(by_anchor[2]) == [(1, 3), (2, 4)]
        # ranks are dense from 1 and capped at k
        for ranks in by_anchor.values():
            assert [r for r, _ in sorted(ranks)] == list(range(1, len(ranks) + 1))

    def test_token_entropy_extremes(self, spark):
        df = spark.createDataFrame(
            [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in text.token_entropy(df).collect()}
        assert got[1]["entropy"] == 0.0                  # all same token
        assert abs(got[2]["entropy"] - math.log(4)) < 1e-3  # uniform: ln k
        assert got[2]["distinct_tokens"] == 4 and got[2]["n_tokens"] == 4


class TestSkyline:
    def test_matches_brute_force_dominance(self, spark):
        from nyc_bikeshare_datawarehouse_spark.operators.skyline import skyline_2d
        pts = [(i, (i * 37) % 11, (i * 53) % 13) for i in range(40)]
        df = spark.createDataFrame(pts, "pid long, x long, y long")
        got = {r["pid"] for r in skyline_2d(df, "x", "y", "pid",
                                            bucket=F.floor(F.col("x") / 3)).collect()
               if r["skyline"]}
        def dominated(a):
            return any(
                (b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2]))
                for b in pts if b is not a
            )
        want_front = {a[0] for a in pts if not dominated(a)}
        # exact-duplicate (x, y) points collapse to the lowest id
        seen = {}
        for pid, x, y in sorted(pts):
            seen.setdefault((x, y), pid)
        want = {seen[(x, y)] for pid, x, y in pts if pid in want_front and seen[(x, y)] == pid}
        assert got == want

    def test_bucket_boundary_crossing(self, spark):
        from nyc_bikeshare_datawarehouse_spark.operators.skyline import skyline_2d
        # the dominator sits in an EARLIER bucket than its victim
        df = spark.createDataFrame(
            [(1, 0, 10), (2, 100, 5), (3, 100, 12)],
            "pid long, x long, y long",
        )
        got = {r["pid"]: r["skyline"]
               for r in skyline_2d(df, "x", "y", "pid",
                                   bucket=F.floor(F.col("x") / 10)).collect()}
        assert got == {1: True, 2: False, 3: True}


class TestSpatial:
    def test_blocking_lossless_vs_brute_force(self, spark):
        import math as m
        from nyc_bikeshare_datawarehouse_spark.operators.spatial import points_within
        # points straddling cell boundaries on purpose
        pts = [(i, (i * 13 % 40) / 4.0, (i * 29 % 40) / 4.0) for i in range(60)]
        df = spark.createDataFrame(pts, "id long, lat double, lon double")
        got = {(r["id_a"], r["id_b"]) for r in
               points_within(df, radius_km=80.0, cell_deg=1.0).collect()}

        def hav(a, b):
            la1, lo1, la2, lo2 = map(m.radians, (a[1], a[2], b[1], b[2]))
            h = (m.sin((la2 - la1) / 2) ** 2
                 + m.cos(la1) * m.cos(la2) * m.sin((lo2 - lo1) / 2) ** 2)
            return 2 * 6371.0 * m.asin(m.sqrt(h))

        want = set()
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                d = m.floor(hav(pts[i], pts[j]) * 10000) / 10000
                if d <= 80.0:
                    want.add((pts[i][0], pts[j][0]))
        assert got == want and len(want) > 0

    def test_radius_beyond_cell_guarantee_misses_nothing_in_range(self, spark):
        # two points 1.5 cells apart in longitude are OUT of the 9-cell
        # neighborhood: the operator must still be lossless for radii
        # within the documented bound (cell side >= radius)
        from nyc_bikeshare_datawarehouse_spark.operators.spatial import points_within
        df = spark.createDataFrame(
            [(1, 0.0, 0.55), (2, 0.0, 1.45)], "id long, lat double, lon double"
        )
        # 0.9 deg apart at the equator = ~100.2 km, cells 0 and 1
        out = points_within(df, radius_km=101.0, cell_deg=1.0).collect()
        assert len(out) == 1 and abs(out[0]["dist_km"] - 100.3) < 0.5


def _min_label_components(edges, n_nodes):
    """Pure-Python reference: each node's min reachable id (union-find)."""
    root = list(range(n_nodes))

    def find(x):
        while root[x] != x:
            x = root[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


class TestTwoStarComponents:
    """Connected components through `two_star_components`, the wrapper
    over `dedup.cluster_duplicates`, on its default one-task solve."""

    @staticmethod
    def _run(spark, edges, n_nodes):
        from nyc_bikeshare_datawarehouse_spark.functions.graph import (
            two_star_components,
        )

        pairs = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long"
        )
        if not edges:
            pairs = pairs.filter("id_a <> id_a")  # empty frame, kept schema
        ids = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
        return {
            r["doc_id"]: r["cluster_id"]
            for r in two_star_components(pairs, ids).collect()
        }

    def test_hand_cases(self, spark):
        # two components {0,1,2,3} (path) + {5,6} and singletons 4, 7
        got = self._run(spark, [(0, 1), (1, 2), (2, 3), (5, 6)], 8)
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}

    def test_empty_edges_all_singletons(self, spark):
        assert self._run(spark, [], 4) == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_long_path_converges_in_log_rounds(self, spark):
        # a 200-node path has diameter 199: one-hop min-label propagation
        # needs ~199 rounds; pointer jumping finishes far inside the
        # wrapper's max_iters=50 (O(log diameter))
        edges = [(i, i + 1) for i in range(199)]
        got = self._run(spark, edges, 200)
        assert set(got.values()) == {0}

    def test_matches_label_propagation_on_random_graphs(self, spark):
        import random

        rng = random.Random(411)
        for _ in range(4):
            n = rng.randint(2, 40)
            m = rng.randint(0, 60)
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
            assert self._run(spark, edges, n) == _min_label_components(edges, n), (
                n, edges,
            )


class TestTwoStarComponentsRounds(TestTwoStarComponents):
    """The same cases on the distributed pointer-jumping rounds: the
    one-task gate forced to 0 sends every graph above it."""

    @pytest.fixture(autouse=True)
    def _rounds(self, monkeypatch):
        from nyc_bikeshare_datawarehouse_spark.functions import dedup

        monkeypatch.setattr(dedup, "_CC_BROADCAST_MAX_EDGES", 0)


def _brute_triangles(edge_set):
    """Per-node triangle counts by literal 3-subset enumeration."""
    import itertools

    nodes = sorted({x for e in edge_set for x in e})
    has = {frozenset(e) for e in edge_set}
    tri = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            frozenset((a, b)) in has
            and frozenset((b, c)) in has
            and frozenset((a, c)) in has
        ):
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    return tri


class TestTriangleCounts:
    def test_hand_case(self, spark):
        # triangle a-b-c plus pendant d hanging off c
        df = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
            "src string, dst string",
        )
        got = {
            r["node"]: (r["degree"], r["triangles"], r["coeff_bp"])
            for r in graph.triangle_counts(df).collect()
        }
        assert got == {
            "a": (2, 1, 10000),
            "b": (2, 1, 10000),
            "c": (3, 1, 3333),
            "d": (1, 0, 0),  # degree < 2: coefficient defined as 0
        }

    def test_star_hub_has_no_triangles(self, spark):
        # the "last reducer" shape: orientation must not explode the hub
        df = spark.createDataFrame(
            [("hub", f"l{i}") for i in range(8)], "src string, dst string"
        )
        got = {r["node"]: r["triangles"] for r in graph.triangle_counts(df).collect()}
        assert set(got.values()) == {0}

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("a", "c")],
            "src string, dst string",
        )
        got = {r["node"]: r["triangles"] for r in graph.triangle_counts(df).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_matches_brute_force_on_random_graphs(self, spark):
        import random

        rng = random.Random(411)
        for _ in range(3):
            n = 14
            edges = [
                (f"n{i}", f"n{j}")
                for i in range(n)
                for j in range(i + 1, n)
                if rng.random() < 0.35
            ]
            if not edges:
                continue
            df = spark.createDataFrame(edges, "src string, dst string")
            got = {
                r["node"]: r["triangles"]
                for r in graph.triangle_counts(df).collect()
            }
            assert got == _brute_triangles(edges)


def _dijkstra(edges, seeds, cap):
    """Pure-Python reference: min-dist from any seed, dropping > cap."""
    import heapq

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {}
    heap = [(0, s) for s in seeds]
    while heap:
        du, u = heapq.heappop(heap)
        if u in dist or du > cap:
            continue
        dist[u] = du
        for v, w in adj.get(u, []):
            if v not in dist:
                heapq.heappush(heap, (du + w, v))
    return dist


class TestShortestPaths:
    def test_two_hop_beats_direct_edge(self, spark):
        edges = [("a", "b", 5), ("a", "c", 1), ("c", "b", 1)]
        sym = edges + [(d, s, w) for s, d, w in edges]
        df = spark.createDataFrame(sym, "src string, dst string, w long")
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r["node"]: r["dist"] for r in graph.shortest_paths(df, seeds, cap=60).collect()}
        assert got == {"a": 0, "b": 2, "c": 1}

    def test_cap_drops_far_nodes(self, spark):
        edges = [("a", "b", 50), ("b", "c", 50)]
        df = spark.createDataFrame(edges, "src string, dst string, w long")
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r["node"]: r["dist"] for r in graph.shortest_paths(df, seeds, cap=60).collect()}
        assert got == {"a": 0, "b": 50}  # c at 100 > cap

    def test_multi_seed_takes_minimum(self, spark):
        edges = [("a", "m", 9), ("z", "m", 2)]
        df = spark.createDataFrame(edges, "src string, dst string, w long")
        seeds = spark.createDataFrame([("a",), ("z",)], "node string")
        got = {r["node"]: r["dist"] for r in graph.shortest_paths(df, seeds, cap=60).collect()}
        assert got == {"a": 0, "z": 0, "m": 2}

    def test_matches_dijkstra_on_random_graphs(self, spark):
        import random

        rng = random.Random(1123)
        for _ in range(2):
            n = 12
            edges = []
            for i in range(n):
                for j in range(n):
                    if i != j and rng.random() < 0.25:
                        edges.append((f"n{i}", f"n{j}", rng.randint(1, 9)))
            if not edges:
                continue
            df = spark.createDataFrame(edges, "src string, dst string, w long")
            seeds = spark.createDataFrame([("n0",)], "node string")
            got = {
                r["node"]: r["dist"]
                for r in graph.shortest_paths(df, seeds, cap=40).collect()
            }
            assert got == _dijkstra(edges, ["n0"], cap=40)


def _absorption_reference(edges, iters):
    """Pure-Python replay of the integer value iteration.
    edges: [(scenario, src, dst, cnt)] -> {(scenario, node): p_nano}."""
    tot = {}
    for s, u, _, c in edges:
        tot[(s, u)] = tot.get((s, u), 0) + c
    nodes = {(s, u) for s, u, _, _ in edges} | {(s, v) for s, _, v, _ in edges}
    p = {
        (s, n): graph.UNIT if n == "CONV" else 0
        for s, n in nodes
    }
    for _ in range(iters):
        acc = {}
        for s, u, v, c in edges:
            acc[(s, u)] = acc.get((s, u), 0) + c * p[(s, v)]
        p = {
            (s, n): (
                graph.UNIT
                if n == "CONV"
                else 0
                if n == "NULL"
                else acc.get((s, n), 0) // tot.get((s, n), 1)
            )
            for s, n in nodes
        }
    return p


class TestAbsorptionProbs:
    def test_hand_chain(self, spark):
        edges = [
            ("FULL", "START", "A", 1),
            ("FULL", "A", "CONV", 3),
            ("FULL", "A", "NULL", 1),
        ]
        df = spark.createDataFrame(edges, "scenario string, src string, dst string, cnt long")
        got = {
            (r["scenario"], r["node"]): r["p"]
            for r in graph.absorption_probs(df, iters=3).collect()
        }
        assert got[("FULL", "A")] == 750_000_000
        assert got[("FULL", "START")] == 750_000_000
        assert got[("FULL", "CONV")] == graph.UNIT
        assert got[("FULL", "NULL")] == 0

    def test_matches_pure_python_on_cyclic_chain(self, spark):
        # A <-> B cycle with leakage: converges geometrically, and the
        # 6-round truncation must match the replay EXACTLY
        edges = [
            ("FULL", "START", "A", 2),
            ("FULL", "START", "B", 1),
            ("FULL", "A", "B", 1),
            ("FULL", "A", "CONV", 1),
            ("FULL", "B", "A", 2),
            ("FULL", "B", "NULL", 1),
            ("X", "START", "A", 3),
            ("X", "A", "CONV", 1),
            ("X", "A", "NULL", 2),
        ]
        df = spark.createDataFrame(edges, "scenario string, src string, dst string, cnt long")
        got = {
            (r["scenario"], r["node"]): r["p"]
            for r in graph.absorption_probs(df, iters=6).collect()
        }
        assert got == _absorption_reference(edges, 6)
