"""Byte-pair-encoding vocabulary induction (Sennrich et al. 2016, public).

The missing piece between `text.vocab_build` (whitespace vocab) and a
trainable tokenizer: learn subword merges from corpus statistics. The
classic scale trick keeps this tractable at 100 TB — BPE statistics are
functions of the WORD VOCABULARY with frequencies, not of the corpus:

- one corpus-sized shuffle EVER (`word_vocab`: groupBy word, map-side
  combined); everything after operates on the vocab-sized frame;
- each merge round is per-row array work (the greedy fold) plus one
  vocab-sized pair-count aggregation; the driver collects only the
  1-row argmax per round (same iterative-algorithm shape as KMeans /
  connected components, with per-round `localCheckpoint` lineage
  truncation like dedup.cluster_duplicates);
- symbols start as characters plus an end-of-word marker, so merges are
  word-internal and the learned units compose back into words.

Determinism: the winning pair is (count DESC, a ASC, b ASC) — total
order, so training is reproducible and the single-step form carries a
full DuckDB oracle (q_bpe_merge_step) built on an INDEPENDENT
formulation of the greedy non-overlap rule (window run-grouping instead
of the fold; two algorithms, one answer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from nyc_bikeshare_datawarehouse_spark.functions.text import tokens

#: end-of-word marker symbol (atomic array element, not a substring —
#: multi-char so it can never collide with a single character symbol)
EOW = "</w>"


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the ONE corpus-sized
    aggregation; all merge rounds run on this frame."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def with_symbols(vocab: DataFrame, word_col: str = "word") -> DataFrame:
    """Add the initial symbol sequence: characters + the EOW marker."""
    w = F.col(word_col)
    chars = F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, 1)
    )
    return vocab.withColumn("syms", F.concat(chars, F.array(F.lit(EOW))))


def pair_counts(symdf: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-pair counts over the symbol sequences:
    (a, b, cnt). Vocab-sized input, explode bounded by word length."""
    c = F.col("syms")
    # guard the fully-merged single-symbol case: Spark's sequence(1, 0)
    # DESCENDS ([1, 0]) instead of being empty, which would probe
    # element_at past the array
    pairs = F.when(
        F.size(c) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(c) - 1),
            lambda i: F.struct(
                F.element_at(c, i).alias("a"), F.element_at(c, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        symdf.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _merge_fold(a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    inside `syms`, as a single fold — per-row expression, no shuffle.
    After a merge the accumulator's last element is a||b (never equal to
    `a`, since b is non-empty), so a consumed position can't re-merge —
    exactly the sequential scan's non-overlap rule."""
    merged = a + b

    def step(acc, s):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"), step
    )


def apply_merge(symdf: DataFrame, a: str, b: str) -> DataFrame:
    """One BPE merge applied to every symbol sequence."""
    return symdf.withColumn("syms", _merge_fold(a, b))


def best_pair(pc: DataFrame):
    """The winning pair under the total order (cnt DESC, a, b); None on
    an empty frame (no adjacent pairs left)."""
    return pc.orderBy(F.desc("cnt"), "a", "b").first()


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_count: int = 2,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn `n_merges` BPE merges from the corpus; returns (merges,
    final symbol frame). Stops early when the best pair drops below
    `min_count` (merging singletons adds no compression). Per round the
    driver sees ONE row; `localCheckpoint` truncates the growing fold
    lineage so round N doesn't replay rounds 1..N-1."""
    symdf = with_symbols(word_vocab(df, text_col)).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = best_pair(pair_counts(symdf))
        if top is None or top["cnt"] < min_count:
            break
        merges.append((top["a"], top["b"]))
        symdf = apply_merge(symdf, top["a"], top["b"]).localCheckpoint()
    return merges, symdf


def encode(df: DataFrame, merges: list[tuple[str, str]], text_col: str = "text") -> DataFrame:
    """Tokenize with a LEARNED merge list: split each whitespace word
    into chars+EOW, then apply the merges in training order — each merge
    is the same per-row fold as training, chained as nested expressions
    (no shuffle, no UDF; expression depth grows with len(merges), fine
    for the tens-of-merges regime; persist the encoded output rather
    than re-deriving for production vocab sizes). Adds `bpe_tokens`
    (flattened subword array) and `bpe_token_count`."""

    def fold(expr, a, b):
        merged = a + b

        def step(acc, s):
            hit = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (s == F.lit(b))
            )
            return F.when(
                hit,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
            ).otherwise(F.concat(acc, F.array(s)))

        return F.aggregate(expr, F.array().cast("array<string>"), step)

    def _encode_word(t):
        chars = F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length(t)), lambda i: F.substring(t, i, 1)
            ),
            F.array(F.lit(EOW)),
        )
        e = chars
        for a, b in merges:
            e = fold(e, a, b)
        return e

    encoded = F.flatten(F.transform(tokens(text_col), _encode_word))
    return df.withColumn("bpe_tokens", encoded).withColumn(
        "bpe_token_count", F.size("bpe_tokens")
    )
