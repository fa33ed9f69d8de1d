"""BPE vocabulary induction: Spark implementation vs a pure-Python
reference, plus the greedy non-overlap edge cases the fold must get
right (overlapping match runs, merged-symbol adjacency)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions import bpe

from conftest import rows_set


def _py_bpe(word_freqs: dict[str, int], n_merges: int, min_count: int = 2):
    """Reference BPE (Sennrich et al. 2016 pseudo-code shape): greedy
    left-to-right non-overlapping merge, winner by (cnt, -ord) total
    order mirrored as (cnt DESC, a ASC, b ASC)."""
    seqs = {w: list(w) + [bpe.EOW] for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, f in word_freqs.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), cnt = best
        if cnt < min_count:
            break
        merges.append((a, b))
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


class TestBpe:
    def test_train_matches_python_reference(self, spark):
        rows = [
            (1, "low low low lower lower lowest"),
            (2, "new newer newest new new"),
            (3, "low new lownew"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        wf = Counter(
            t for _, txt in rows for t in txt.split(" ") if t
        )
        want_merges, want_seqs = _py_bpe(dict(wf), n_merges=8)
        got_merges, symdf = bpe.bpe_train(df, n_merges=8)
        assert got_merges == want_merges
        got_seqs = {r["word"]: list(r["syms"]) for r in symdf.collect()}
        assert got_seqs == {w: s for w, s in want_seqs.items()}

    def test_merge_fold_overlap_run_is_greedy(self, spark):
        # 'aaaa' with pair (a,a): greedy non-overlap -> [aa, aa];
        # 'aaa' -> [aa, a] (the first pair wins, the tail is left)
        df = spark.createDataFrame(
            [("aaaa", 1), ("aaa", 1)], "word string, freq long"
        ).withColumn("syms", F.split("word", ""))
        out = {r["word"]: list(r["syms"]) for r in bpe.apply_merge(df, "a", "a").collect()}
        assert out["aaaa"] == ["aa", "aa"]
        assert out["aaa"] == ["aa", "a"]

    def test_merged_symbol_does_not_rematch(self, spark):
        # after merging (a,b) -> 'ab', a following 'b' must NOT merge
        # into the fresh 'ab' (the consumed position can't re-merge)
        df = spark.createDataFrame(
            [("x", 1)], "word string, freq long"
        ).withColumn("syms", F.array(F.lit("a"), F.lit("b"), F.lit("b")))
        out = bpe.apply_merge(df, "a", "b").first()["syms"]
        assert list(out) == ["ab", "b"]

    def test_min_count_stops_training(self, spark):
        # every word unique -> every pair count 1 < min_count: no merges
        df = spark.createDataFrame(
            [(1, "abc xyz qrs")], "doc_id long, text string"
        )
        merges, _ = bpe.bpe_train(df, n_merges=5, min_count=2)
        assert merges == []

    def test_encode_applies_merges_in_order(self, spark):
        rows = [
            (1, "low low low lower lower lowest"),
            (2, "new newer newest new new"),
            (3, "low new lownew"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        merges, _ = bpe.bpe_train(df, n_merges=6)
        assert merges  # corpus has repeated structure to learn
        enc = {r["doc_id"]: r for r in bpe.encode(df, merges).collect()}
        # reference-encode with the python model's merge application
        wf = Counter(t for _, txt in rows for t in txt.split(" ") if t)
        _, seqs = _py_bpe(dict(wf), n_merges=6)
        for doc_id, txt in rows:
            want = [s for w in txt.split(" ") if w for s in seqs[w]]
            assert list(enc[doc_id]["bpe_tokens"]) == want
            assert enc[doc_id]["bpe_token_count"] == len(want)
        # compression: learned merges shorten the char+EOW stream
        raw_len = sum(len(w) + 1 for w in "low low low lower lower lowest".split())
        assert enc[1]["bpe_token_count"] < raw_len
