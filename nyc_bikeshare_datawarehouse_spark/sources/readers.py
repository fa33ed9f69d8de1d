"""Sources: parquet/CSV scans, literal frames, empty frames.

Covers the reference's source surface (SURVEY §2.1):
- CSV scan with inferred schema  (reference etl.py:54-56)  -> `read_csv`
  with an *explicit* schema preferred; inference is opt-in because it costs
  an extra full pass over the data and produces run-dependent types.
- CSV scan string-typed          (reference etl.py:122-124) -> `read_csv`
  with header only.
- Glob/pattern scan              (reference etl.py:53-54)   -> native glob in
  the path; one scan instead of a Python per-month loop, so Catalyst sees a
  single plan and can prune partitions.
- Literal in-memory source       (reference etl.py:42,164)  -> `literal_frame`.
- Empty-frame source             (reference etl.py:108-109 used an empty RDD;
  idiomatic Spark is `createDataFrame([], schema)`)         -> `empty_frame`.

At 100 TB the only interesting source is columnar parquet: explicit schemas
(schema-on-read, no inference pass), predicate pushdown and column pruning
reach the scan, and file listing parallelizes on the driver.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DDL_TYPES = {
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "array<float>": T.ArrayType(T.FloatType()),
}


def _declared(*cols: str) -> T.StructType:
    """StructType from "name type" pairs, all nullable (as Spark infers
    parquet columns), built without a JVM so it can be a module constant."""
    return T.StructType(
        [T.StructField(n, _DDL_TYPES[t]) for n, t in (c.split(" ", 1) for c in cols)]
    )


#: Declared schema of each driver-corpus table (TESTDATA.md), equal to what
#: Spark infers from the committed files (pinned in tests/test_readers.py).
#: `load_table` reads with these, so a corpus read plans without an
#: inference job.
TABLE_SCHEMAS = {
    "region": _declared("r_regionkey int", "r_name string"),
    "nation": _declared("n_nationkey int", "n_name string", "n_regionkey int"),
    "customer": _declared(
        "c_custkey bigint", "c_name string", "c_nationkey int",
        "c_acctbal double", "c_mktsegment string",
    ),
    "supplier": _declared(
        "s_suppkey bigint", "s_name string", "s_nationkey int", "s_acctbal double"
    ),
    "part": _declared(
        "p_partkey bigint", "p_name string", "p_brand string", "p_type string",
        "p_size int", "p_retailprice double",
    ),
    "orders": _declared(
        "o_orderkey bigint", "o_custkey bigint", "o_orderstatus string",
        "o_totalprice double", "o_orderdate timestamp_ntz", "o_orderpriority string",
    ),
    "lineitem": _declared(
        "l_orderkey bigint", "l_partkey bigint", "l_suppkey bigint",
        "l_linenumber int", "l_quantity double", "l_extendedprice double",
        "l_discount double", "l_tax double", "l_returnflag string",
        "l_linestatus string", "l_shipdate timestamp_ntz",
    ),
    "events": _declared(
        "event_id bigint", "ts timestamp_ntz", "user_id bigint",
        "event_type string", "value double", "props string",
    ),
    "documents": _declared(
        "doc_id bigint", "text string", "lang string", "source string", "n_chars bigint"
    ),
    "embeddings": _declared("vec_id bigint", "embedding array<float>", "label int"),
}

#: Canonical table names of the driver corpus.
TESTDATA_TABLES = tuple(TABLE_SCHEMAS)


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Parquet scan. Schema-on-read by default; pass `schema` to assert a
    contract (mismatches fail at analysis, not mid-job)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — same contract as `read_parquet` (schema-on-read unless
    a contract schema is pinned). ORC carries the same columnar
    pushdown/pruning machinery in Spark (PushedFilters + ReadSchema in
    the scan node, tested), so warehouse migrations from Hive/ORC lakes
    keep their scan characteristics."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    capture_corrupt: bool = False,
) -> DataFrame:
    """JSON-lines scan — the interchange format most raw text corpora
    arrive in. ALWAYS pass `schema` at scale: inference runs a full extra
    pass over the data before the real read. `capture_corrupt=True` adds
    a `_corrupt_record` column and keeps malformed lines (PERMISSIVE)
    for a quarantine split instead of failing the job mid-scan; like
    read_csv it REQUIRES an explicit schema then — relying on inference
    to surface _corrupt_record costs a full extra pass at scale and made
    the two readers' contracts inconsistent."""
    if capture_corrupt and schema is None:
        raise ValueError("capture_corrupt=True requires an explicit schema")
    reader = spark.read
    if schema is not None:
        if capture_corrupt:
            if isinstance(schema, str):
                schema = T.StructType.fromDDL(schema)
            schema = schema.add("_corrupt_record", T.StringType())
        reader = reader.schema(schema)
    if capture_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
    sep: str = ",",
    timestamp_format: str | None = None,
    capture_corrupt: bool = False,
) -> DataFrame:
    """CSV scan. Explicit schema >> inference (inference = extra full pass,
    reference etl.py:56 did this per month).

    `capture_corrupt=True` (requires a schema) parses in PERMISSIVE mode
    and lands unparseable lines in a `_corrupt_record` column instead of
    nulling them silently or failing the job — at 100 TB some malformed
    rows are a certainty, and quarantining beats either extreme."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if capture_corrupt:
        if schema is None:
            raise ValueError("capture_corrupt requires an explicit schema")
        schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
        )
        reader = (
            reader.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
        )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a capture_corrupt read into (clean, quarantined).

    Spark disallows plans that read only `_corrupt_record` from a raw
    CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN — column pruning can reduce
    e.g. a post-filter count() to exactly that), so the parsed frame is
    cached first, per the documented workaround. The cache holds one
    parsed copy of the input for the duration of the quarantine flow."""
    df = df.cache()
    corrupt = F.col("_corrupt_record").isNotNull()
    return df.filter(~corrupt).drop("_corrupt_record"), df.filter(corrupt)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-corpus table: `{sf_dir}/{name}.parquet`, read with
    its declared `TABLE_SCHEMAS` entry, so building a plan over the corpus
    runs no footer-inference job (one per read otherwise). A new corpus
    table needs a `TABLE_SCHEMAS` entry; tests/test_readers.py checks
    every entry against what Spark infers from the committed files.

    `events.ts` is stored as TIMESTAMP (µs, not adjusted to UTC), which
    Spark reads as TIMESTAMP_NTZ; it is cast to TIMESTAMP under the pinned
    UTC session, so the wall-clock value is the UTC instant."""
    # Date-part semantics (hour/day/dow) must not depend on whatever zone
    # the *caller's* session was built with — pin UTC (runtime-settable).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None) -> dict[str, DataFrame]:
    """Load several corpus tables as a dict keyed by table name."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def literal_frame(spark: SparkSession, rows: Sequence, schema: T.StructType) -> DataFrame:
    """In-memory literal table (reference etl.py:42,164: station schema,
    weather-type lookup). Small static dims — always broadcast-joinable."""
    return spark.createDataFrame(list(rows), schema)


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty typed frame as a union seed (reference etl.py:108-109 built this
    from an empty RDD; this is the DataFrame-native form)."""
    return spark.createDataFrame([], schema)


def read_text(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw text scan — one row per line (`value` string), or one row per
    FILE with `wholetext` (the shape a document-per-file corpus lands
    in before tokenization). `line_sep` overrides the newline delimiter
    for corpora using e.g. NUL- or record-separator framing. Splittable
    per-line at scale (files split on block boundaries); wholetext is
    NOT splittable — one task per file, so shard large corpora into
    many files before reading whole.

    GOTCHA (PySpark 4, tested): the options MUST ride the `.text()`
    keywords — `DataFrameReader.text()` re-applies its own keyword
    defaults last, so a prior `.option("wholetext", "true")` is
    silently overridden back to False."""
    return spark.read.text(path, wholetext=whole_file, lineSep=line_sep)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Opaque-binary ingest via Spark's built-in `binaryFile` source —
    the entry point of the multimodal column pipeline
    (functions/multimodal.py): each matched file becomes one row
    (path, modificationTime, length, content binary). `glob` filters by
    pathGlobFilter (e.g. "*.png") at LISTING time — non-matching files
    are never opened. Files load whole into `content`: bound per-file
    size (spark.sql.sources.binaryFile.maxLength caps at ~2 GB) and
    rely on many-files parallelism, not intra-file splits. Use
    modificationTime-insensitive projections in deterministic
    pipelines."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
