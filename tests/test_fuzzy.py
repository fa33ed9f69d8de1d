"""Ed-Join fuzzy string join: losslessness vs brute force + filter edges."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions import fuzzy, text
from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

from conftest import rows_set


def _brute(spark, left, right, k):
    l = left.select(F.col("id_l"), F.col("name").alias("__sl"))
    r = right.select(F.col("id_r"), F.col("name").alias("__sr"))
    return (
        l.crossJoin(r)
        .withColumn("dist", F.levenshtein("__sl", "__sr"))
        .filter(F.col("dist") <= k)
        .select("id_l", "id_r", F.col("dist").cast("int").alias("dist"))
    )


def test_fuzzy_pairs_equals_brute_force_handcrafted(spark):
    # rare + hot grams, equal strings, 1-sub, 1-del, 1-ins, far pairs,
    # and a pair whose only shared grams are position-shifted by 1
    names = [
        (0, "banana"),
        (1, "banane"),      # 1 substitution
        (2, "banan"),       # 1 deletion
        (3, "bananas"),     # 1 insertion
        (4, "bandana"),     # distance 2 from banana — must NOT match at k=1
        (5, "cherry"),
        (6, "cherry"),      # exact duplicate
        (7, "xbanana"),     # 1 insertion at the FRONT: all positions shift
        (8, "zz"),          # length == q edge
        (9, "orange"),
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    left = df.select(F.col("id").alias("id_l"), "name")
    right = df.select(F.col("id").alias("id_r"), "name")
    got = fuzzy.fuzzy_pairs(left, right, "name", "id_l", "id_r", k=1, q=2)
    want = _brute(spark, left, right, 1)
    assert rows_set(got) == rows_set(want)


def test_fuzzy_pairs_equals_brute_force_corpus_titles(spark, sf_dir):
    # the q_fuzzy_join shape at sf0.001: corrupted titles vs clean titles
    d = load_table(spark, sf_dir, "documents")
    title = F.concat_ws(" ", F.slice(text.tokens("text"), 1, 4))
    clean = d.select(F.col("doc_id").alias("id_r"), title.alias("name"))
    pos = (F.col("id_r") % F.length("name")).cast("int") + 1
    dirty = clean.select(
        F.col("id_r").alias("id_l"),
        F.concat(
            F.substring(F.col("name"), F.lit(1), pos - 1),
            F.substring(F.col("name"), pos + 1, F.length("name")),
        ).alias("name"),
    )
    got = fuzzy.fuzzy_pairs(dirty, clean, "name", "id_l", "id_r", k=1, q=2)
    want = _brute(spark, dirty, clean, 1)
    assert rows_set(got) == rows_set(want)
    assert got.count() > 0


def test_fuzzy_pairs_k2(spark):
    # wider radius widens the prefix (k*q+1 = 5) and must stay lossless
    names = [(0, "abcdefgh"), (1, "abXdeYgh"), (2, "abcdefghij"), (3, "qrstuvwx")]
    df = spark.createDataFrame(names, ["id", "name"])
    left = df.select(F.col("id").alias("id_l"), "name")
    right = df.select(F.col("id").alias("id_r"), "name")
    got = fuzzy.fuzzy_pairs(left, right, "name", "id_l", "id_r", k=2, q=2)
    want = _brute(spark, left, right, 2)
    assert rows_set(got) == rows_set(want)


def test_positional_qgrams_short_string_is_empty(spark):
    df = spark.createDataFrame([("a",), ("ab",), ("abc",)], ["s"])
    got = df.select(F.size(fuzzy.positional_qgrams("s", 2)).alias("n")).collect()
    assert [r["n"] for r in got] == [0, 1, 2]


def test_fuzzy_join_carries_strings(spark):
    df = spark.createDataFrame([(0, "hello"), (1, "hallo")], ["id", "name"])
    left = df.select(F.col("id").alias("id_l"), "name")
    right = df.select(F.col("id").alias("id_r"), "name")
    got = fuzzy.fuzzy_join(left, right, "name", "id_l", "id_r", k=1, q=2)
    rows = {(r["id_l"], r["id_r"], r["s_l"], r["s_r"], r["dist"]) for r in got.collect()}
    assert (0, 1, "hello", "hallo", 1) in rows
    assert (0, 0, "hello", "hello", 0) in rows


def test_fuzzy_pairs_short_strings_lossless(spark):
    # both-short pairs can share ZERO grams ('aa'~'ab' at q=2,k=1) — the
    # hypothesis-found case the length-band branch exists for; mixes
    # no-gram (len<q), short, boundary-length, and long strings
    names = [(0, "aa"), (1, "ab"), (2, "a"), (3, "b"), (4, "abc"),
             (5, "abcd"), (6, "abcde"), (7, "zz")]
    df = spark.createDataFrame(names, ["id", "name"])
    left = df.select(F.col("id").alias("id_l"), "name")
    right = df.select(F.col("id").alias("id_r"), "name")
    got = fuzzy.fuzzy_pairs(left, right, "name", "id_l", "id_r", k=1, q=2)
    want = _brute(spark, left, right, 1)
    assert rows_set(got) == rows_set(want)
    pairs = {(r["id_l"], r["id_r"]) for r in got.collect()}
    assert (0, 1) in pairs and (2, 3) in pairs  # zero-shared-gram matches


def test_fuzzy_pairs_distinct_equals_exhaustive_on_repeat_heavy_data(spark):
    # the production lever (fuzzy_pairs' default since round 10): same
    # result as the exhaustive per-row form, but every expensive stage
    # runs on |distinct strings| — here 300 rows share 6 distinct names
    names = ["acme corp", "acme c0rp", "globex", "globexx", "initech", "zz"]
    rows = [(i, names[i % len(names)]) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "name"])
    left = df.select(F.col("id").alias("id_l"), "name")
    right = df.select(F.col("id").alias("id_r"), "name")
    exhaustive = fuzzy.fuzzy_pairs_exhaustive(
        left, right, "name", "id_l", "id_r", k=1, q=2
    )
    dflt = fuzzy.fuzzy_pairs(left, right, "name", "id_l", "id_r", k=1, q=2)
    assert rows_set(dflt) == rows_set(exhaustive)
    assert dflt.count() > 300  # expansion produced the true multiplicities


def test_fuzzy_pairs_default_q3_banded_lossless(spark):
    # the round-10 default (q=3, banded, distinct universe) vs brute
    # force on the handcrafted hard set — incl. strings under the q=3
    # short-branch threshold (q·(k+1) = 6 chars) and zero-shared-gram
    # short pairs
    names = [
        (0, "banana"), (1, "banane"), (2, "banan"), (3, "bananas"),
        (4, "bandana"), (5, "cherry"), (6, "cherry"), (7, "xbanana"),
        (8, "zz"), (9, "orange"), (10, "aa"), (11, "ab"), (12, "abcde"),
        (13, "abcd"), (14, "a"),
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    left = df.select(F.col("id").alias("id_l"), "name")
    right = df.select(F.col("id").alias("id_r"), "name")
    got = fuzzy.fuzzy_pairs(left, right, "name", "id_l", "id_r", k=1)
    want = _brute(spark, left, right, 1)
    assert rows_set(got) == rows_set(want)


def test_fuzzy_exhaustive_banded_equals_unbanded(spark, sf_dir):
    # the (gram, length) banded candidate key is lossless by
    # construction — pinned on the corpus-title shape
    d = load_table(spark, sf_dir, "documents")
    title = F.concat_ws(" ", F.slice(text.tokens("text"), 1, 4))
    clean = d.select(F.col("doc_id").alias("id_r"), title.alias("name"))
    dirty = clean.select(F.col("id_r").alias("id_l"), "name")
    banded = fuzzy.fuzzy_pairs_exhaustive(
        dirty, clean, "name", "id_l", "id_r", k=1, q=3, length_banded=True
    )
    plain = fuzzy.fuzzy_pairs_exhaustive(
        dirty, clean, "name", "id_l", "id_r", k=1, q=3, length_banded=False
    )
    assert rows_set(banded) == rows_set(plain)
    assert banded.count() > 0
