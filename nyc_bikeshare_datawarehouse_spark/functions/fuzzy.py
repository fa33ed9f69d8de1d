"""Edit-distance (fuzzy) string joins via positional q-gram prefix filtering.

The record-linkage primitive the dedup family lacks: match strings within
Levenshtein distance <= k WITHOUT the all-pairs cross join. Method is
Ed-Join (Xiao, Wang, Lin — VLDB'08, public literature), the edit-distance
cousin of the prefix-filtered Jaccard join already in functions/dedup.py:

- every string is decomposed into positional q-grams (substring, position);
- a single edit operation can destroy at most q grams, so strings within
  distance k share at least one gram among the first k*q + 1 grams of each,
  under ANY fixed global gram ordering (rarest-first makes the surviving
  candidate lists smallest);
- matching prefix grams must also sit within k positions of each other and
  the string lengths within k (both necessary conditions of distance <= k);
- survivors are verified with the exact Levenshtein distance, a per-pair
  codegen expression (`F.levenshtein`), never a Python UDF.

Scale shape: the gram stream shuffles (gram_hash, id, pos, len) prefixes
only — document-frequency, per-string rank, and prefix cut are window
functions over that one stream (same two-exchange plan as
dedup.prefix_jaccard_candidates). The candidate equi-join is keyed by the
gram; hot grams are exactly the ones the rarest-first prefix refuses to
index. Verify joins the strings back by id. Strings too short for the
gram guarantee (both under q·(k+1) chars — including those under q with
no grams at all) ride a separate length-band candidate branch, so the
join is lossless for every input length (see fuzzy_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions.dedup import spread_pairs


def positional_qgrams(col: Column | str, q: int = 2) -> Column:
    """array<struct<g,p>> of the string's overlapping q-grams with their
    1-based positions; empty when length(s) < q. The sequence guard rides
    the `when` (sequence(1, 0) DESCENDS in Spark, it is not empty)."""
    s = F.col(col) if isinstance(col, str) else col
    n = F.length(s) - q + 1
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(F.substring(s, i, q).alias("g"), i.alias("p")),
        ),
    ).otherwise(F.array().cast("array<struct<g:string,p:int>>"))


def _gram_stream(df: DataFrame, str_col: str, id_col: str, q: int) -> DataFrame:
    """(id, g, p, len) — one row per positional gram occurrence."""
    return df.select(
        F.col(id_col),
        F.length(F.col(str_col)).alias("__len"),
        F.explode(positional_qgrams(str_col, q)).alias("__gp"),
    ).select(id_col, "__len", F.col("__gp.g").alias("__g"), F.col("__gp.p").alias("__p"))


def fuzzy_pairs_exhaustive(
    left: DataFrame,
    right: DataFrame,
    str_col: str = "name",
    left_id: str = "id_l",
    right_id: str = "id_r",
    k: int = 1,
    q: int = 2,
    length_banded: bool = False,
) -> DataFrame:
    """(left_id, right_id, dist) for every cross pair with
    levenshtein(left.str, right.str) <= k, running the gram index over
    EVERY input row (no distinct-universe collapse). Through round 9
    this WAS `fuzzy_pairs`; it is now the probe/exhaustive twin —
    `fuzzy_pairs` defaults to the distinct-universe + banded + q=3 scale
    path (r09 verdict: alpha 1.68/1.65 at the 10x probe for this form).
    LOSSLESS for ALL strings (proven against brute force + hypothesis in
    tests/test_fuzzy.py / test_properties.py), via two candidate
    branches:

    - gram branch (Ed-Join prefix lemma): covers every pair whose LONGER
      string has length >= q·(k+1) — the count bound
      |G(s)∩G(t)| >= max(|s|,|t|)−q+1−k·q then guarantees a shared gram,
      and at most k·q of the k·q+1 rarest prefix grams can be destroyed
      by k edits, so the prefixes must intersect (with positions within
      k and lengths within k);
    - short branch: pairs where BOTH strings are shorter than q·(k+1)
      can share ZERO grams (found by hypothesis: 'aa'~'ab' at q=2,k=1
      share no bigram), so short strings join on a length-band key
      instead — each left length l meets right lengths l−k..l+k via an
      explode(sequence) equi-join. Bounded: the short universe is
      strings under q·(k+1) chars, a tiny distinct set at any corpus
      size, and the k-band length filter is exact (|len diff| <= k is
      necessary for distance <= k).

    The global gram ordering is document frequency over the UNION of both
    sides (ascending, ties by gram text) — both sides must rank against
    the same ordering for the lemma to hold, which is why df is computed
    once on the tagged union rather than per side.

    `length_banded=True` adds the string LENGTH to the gram-branch join
    key: the left prefix stream explodes each row to its len-k..len+k
    target lengths (2k+1 rows) and the equi-join key becomes (gram,
    length), so
    a hot gram's candidate volume is Σ_l |a@(g,·)|·|b@(g,l)| instead of
    |a@g|·|b@g| — the |len diff| <= k necessary condition enforced AT
    the shuffle instead of after it. Lossless by construction (the
    exploded range IS the filter's accept set)."""
    lg = _gram_stream(left, str_col, left_id, q).withColumnRenamed(left_id, "__id")
    rg = _gram_stream(right, str_col, right_id, q).withColumnRenamed(right_id, "__id")
    both = lg.withColumn("__side", F.lit("l")).unionByName(
        rg.withColumn("__side", F.lit("r"))
    )
    w_df = Window.partitionBy("__g")
    w_rank = Window.partitionBy("__side", "__id").orderBy("__df", "__g", "__p")
    prefix = (
        both.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") <= k * q + 1)
        .select("__side", "__id", "__g", "__p", "__len")
    )
    a = prefix.filter(F.col("__side") == "l").select(
        F.col("__id").alias(left_id),
        F.col("__g"),
        F.col("__p").alias("__pa"),
        F.col("__len").alias("__la"),
    )
    b = prefix.filter(F.col("__side") == "r").select(
        F.col("__id").alias(right_id),
        F.col("__g"),
        F.col("__p").alias("__pb"),
        F.col("__len").alias("__lb"),
    )
    if length_banded:
        a_banded = a.withColumn(
            "__lb", F.explode(F.sequence(F.col("__la") - k, F.col("__la") + k))
        )
        cand_gram = (
            a_banded.join(b, ["__g", "__lb"])
            .filter(F.abs(F.col("__pa") - F.col("__pb")) <= k)
            .select(left_id, right_id)
        )
    else:
        cand_gram = (
            a.join(b, "__g")
            .filter(
                (F.abs(F.col("__pa") - F.col("__pb")) <= k)
                & (F.abs(F.col("__la") - F.col("__lb")) <= k)
            )
            .select(left_id, right_id)
        )
    min_long = q * (k + 1)
    short_l = left.filter(F.length(str_col) < min_long).select(
        F.col(left_id), F.length(str_col).alias("__key")
    )
    short_r = right.filter(F.length(str_col) < min_long).select(
        F.col(right_id),
        F.explode(
            F.sequence(F.length(str_col) - k, F.length(str_col) + k)
        ).alias("__key"),
    )
    cand_short = short_l.join(short_r, "__key").select(left_id, right_id)
    # the levenshtein verify is CPU-bound: one exchange dedups + spreads
    cand = spread_pairs(cand_gram.unionByName(cand_short), left_id, right_id)
    ln = left.select(F.col(left_id), F.col(str_col).alias("__sl"))
    rn = right.select(F.col(right_id), F.col(str_col).alias("__sr"))
    return (
        cand.join(ln, left_id)
        .join(rn, right_id)
        .withColumn("dist", F.levenshtein("__sl", "__sr"))
        .filter(F.col("dist") <= k)
        .select(left_id, right_id, F.col("dist").cast("int").alias("dist"))
    )


def fuzzy_pairs(
    left: DataFrame,
    right: DataFrame,
    str_col: str = "name",
    left_id: str = "id_l",
    right_id: str = "id_r",
    k: int = 1,
    q: int = 3,
) -> DataFrame:
    """THE default fuzzy join (round 10): `fuzzy_pairs_exhaustive`'s exact
    semantics — (left_id, right_id, dist) for every cross pair within
    levenshtein <= k — through the three scale levers stacked by default:

    - DISTINCT string universe: the gram index, candidate join, and
      levenshtein verify run on |distinct strings| (sublinear growth on
      real name columns); id expansion is two plain equi-joins whose
      fan-out equals the true output size, so nothing is wasted;
    - length-banded candidate join: (gram, length) equi-key instead of
      gram-then-filter — hot grams stop pairing across incompatible
      lengths at the shuffle (see fuzzy_pairs_exhaustive);
    - q=3 grams: trigram posting lists are far sparser than bigram on
      natural text (931 distinct bigrams vs ~10k trigrams on the probe
      corpus), shrinking the hot-gram candidate volume superlinearly;
      the short-string branch threshold grows to q·(k+1) = 6 chars —
      still a tiny distinct universe.

    Result-identical to the exhaustive twin for any (k, q) — both are
    lossless candidate schemes over the same exact verify (proven
    against brute force + hypothesis in tests/test_fuzzy.py /
    test_properties.py). Use `fuzzy_pairs_exhaustive` only as the
    scaling probe / small-input baseline."""
    lu = left.select(F.col(str_col).alias("__nl")).distinct()
    ru = right.select(F.col(str_col).alias("__nr")).distinct()
    name_pairs = fuzzy_pairs_exhaustive(
        lu.select(F.col("__nl").alias("__kl"), F.col("__nl").alias(str_col)),
        ru.select(F.col("__nr").alias("__kr"), F.col("__nr").alias(str_col)),
        str_col,
        "__kl",
        "__kr",
        k=k,
        q=q,
        length_banded=True,
    )
    lx = left.select(F.col(left_id), F.col(str_col).alias("__kl"))
    rx = right.select(F.col(right_id), F.col(str_col).alias("__kr"))
    return (
        name_pairs.join(lx, "__kl")
        .join(rx, "__kr")
        .select(left_id, right_id, "dist")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    str_col: str = "name",
    left_id: str = "id_l",
    right_id: str = "id_r",
    k: int = 1,
    q: int = 3,
) -> DataFrame:
    """fuzzy_pairs plus both matched strings, for human-readable output:
    (left_id, right_id, left str as `s_l`, right str as `s_r`, dist)."""
    pairs = fuzzy_pairs(left, right, str_col, left_id, right_id, k=k, q=q)
    ln = left.select(F.col(left_id), F.col(str_col).alias("s_l"))
    rn = right.select(F.col(right_id), F.col(str_col).alias("s_r"))
    return pairs.join(ln, left_id).join(rn, right_id).select(
        left_id, right_id, "s_l", "s_r", "dist"
    )
