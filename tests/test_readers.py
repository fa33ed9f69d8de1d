"""Reader tests: explicit-schema CSV, corrupt-record quarantine, declared
corpus schemas."""

from __future__ import annotations

import glob
from pathlib import Path

import pytest
from pyspark.sql import types as T

from nyc_bikeshare_datawarehouse_spark.sources.readers import (
    TABLE_SCHEMAS,
    read_csv,
    split_corrupt,
)

from conftest import SF_SMALL

_REPO = Path(__file__).resolve().parents[1]
#: every corpus the declared schemas must match, by label: the committed
#: benchmark corpus always, the driver corpora and bench.py's finished
#: multi-file copies when present
_CORPORA = {"perfbench-corpus": str(_REPO / "perfbench" / "corpus")}
for _sf in glob.glob(str(Path(SF_SMALL).parent / "sf*")):
    _CORPORA[f"testdata-{Path(_sf).name}"] = _sf
for _marker in glob.glob(str(_REPO / ".benchdata" / "sf*" / "_COPIED")):
    _CORPORA[f"benchdata-{Path(_marker).parent.name}"] = str(Path(_marker).parent)

SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("v", T.DoubleType()),
])


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,v\n1,1.5\nnot_an_int,2.5\n3,oops\n4,4.5\n")
    return str(p)


def test_explicit_schema_read(spark, csv_file):
    df = read_csv(spark, csv_file, schema=SCHEMA)
    assert df.schema == SCHEMA
    assert df.count() == 4  # bad cells null out, rows survive


def test_capture_corrupt_quarantines(spark, csv_file):
    df = read_csv(spark, csv_file, schema=SCHEMA, capture_corrupt=True)
    clean, quarantined = split_corrupt(df)
    # PERMISSIVE: rows with any unparseable cell carry the raw line
    assert clean.count() == 2
    bad = {r["_corrupt_record"] for r in quarantined.collect()}
    assert bad == {"not_an_int,2.5", "3,oops"}
    # partially-parseable cells still surface alongside the raw line
    assert {r["v"] for r in quarantined.collect()} == {2.5, None}


def test_capture_corrupt_requires_schema(spark, csv_file):
    with pytest.raises(ValueError, match="schema"):
        read_csv(spark, csv_file, capture_corrupt=True)


def test_read_jsonl_with_schema(spark, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "hola mundo", "lang": "es"}\n'
    )
    df = read_jsonl(spark, str(p), schema="doc_id long, text string, lang string")
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [(1, "hello world", "en"), (2, "hola mundo", "es")]


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_jsonl

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        'this is not json\n'
        '{"doc_id": 3, "text": "also ok"}\n'
    )
    df = read_jsonl(
        spark, str(p), schema="doc_id long, text string", capture_corrupt=True
    ).cache()  # PERMISSIVE corrupt-capture requires materializing once
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert bad.collect()[0]["_corrupt_record"] == "this is not json"


def test_read_jsonl_capture_corrupt_requires_schema(spark, tmp_path):
    # Contract parity with read_csv: relying on inference to surface
    # _corrupt_record costs a full extra pass at scale — fail fast instead.
    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_jsonl

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1}\n')
    with pytest.raises(ValueError, match="schema"):
        read_jsonl(spark, str(p), capture_corrupt=True)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    import re

    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_orc

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(100)],
        "id long, g string, v double",
    )
    path = str(tmp_path / "orc")
    df.write.partitionBy("g").orc(path)
    back = read_orc(spark, path)
    assert back.count() == 100
    assert {r["g"] for r in back.select("g").distinct().collect()} == {"g0", "g1", "g2"}
    # filter + projection reach the ORC scan like parquet
    q = back.filter(F.col("id") < 10).select("id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(id,10)" in plan
    # partition pruning on the partition column
    pruned = back.filter(F.col("g") == "g1")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*g1", pruned)


def test_read_text_lines_and_wholefile(spark, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_text

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo\n")
    lines = read_text(spark, str(d))
    assert lines.columns == ["value"]
    assert sorted(r["value"] for r in lines.collect()) == [
        "line one", "line two", "solo",
    ]
    whole = read_text(spark, str(d), whole_file=True)
    texts = sorted(r["value"] for r in whole.collect())
    assert texts == ["line one\nline two\n", "solo\n"]


def test_read_text_custom_line_sep(spark, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_text

    f = tmp_path / "recs.dat"
    f.write_text("rec1\x00rec2\x00rec3")
    got = read_text(spark, str(f), line_sep="\x00")
    assert sorted(r["value"] for r in got.collect()) == ["rec1", "rec2", "rec3"]


def test_read_binary_files_glob_and_content(spark, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_binary_files

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "img1.png").write_bytes(b"\x89PNG fake")
    (d / "img2.png").write_bytes(b"\x89PNG other")
    (d / "notes.txt").write_bytes(b"skip me")
    got = read_binary_files(spark, str(d), glob="*.png")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in got.collect()}
    assert set(rows) == {"img1.png", "img2.png"}
    assert bytes(rows["img1.png"]["content"]) == b"\x89PNG fake"
    assert rows["img2.png"]["length"] == len(b"\x89PNG other")
    # feeds straight into the multimodal feature extractor
    from nyc_bikeshare_datawarehouse_spark.functions.multimodal import (
        extract_features,
    )
    from pyspark.sql import functions as F

    feats = extract_features(
        got.select(
            F.xxhash64("path").alias("asset_id"),  # FEATURE_SCHEMA wants long ids
            F.lit("image").alias("modality"),
            "content",
        )
    )
    assert feats.count() == 2


@pytest.mark.parametrize("label", sorted(_CORPORA))
def test_declared_schemas_match_inferred(spark, label):
    # load_table reads with TABLE_SCHEMAS instead of inferring from the
    # footer; a constant that drifted from the files would misread them
    corpus = _CORPORA[label]
    for name, declared in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{corpus}/{name}.parquet").schema
        assert declared == inferred, (corpus, name, inferred.simpleString())
