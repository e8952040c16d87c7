"""Typed sources.

Replaces the reference's HyDFS scan plane — leader fetches a file, splits
it into line-balanced chunks, and ships them over TCP
(``Node.java:607-727``).  On Spark a file scan is already split,
scheduled, and pipelined; what we add is explicit schemas (no inference
pass over 100 TB) and the provenance-tagged line source that mirrors the
reference's tuple model ``uniqueId:chunkFileName,lineNumber,line``
(``Node.java:907-913``).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_S = T.StructType
_F = T.StructField


def _s(*fields: tuple[str, T.DataType]) -> T.StructType:
    return _S([_F(n, t) for n, t in fields])


# Explicit schemas for the driver testdata (TESTDATA.md).  Explicit, not
# inferred: at 100 TB an inference pass is a full extra scan, and parquet
# footer merging across a million files is itself expensive.
SCHEMAS: dict[str, T.StructType] = {
    "region": _s(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
    "nation": _s(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _s(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    # events.ts: the LOGICAL type is TimestampType.  The PHYSICAL parquet
    # encoding (TIMESTAMP MICROS vs NANOS vs raw int64) is detected from
    # the file footer per load — see parquet_ts_unit / read_schema_for.
    # NEVER assume the unit: the same logical table can be re-written
    # with a different physical type (the driver testdata switched from
    # NANOS to MICROS between rounds), and a wrong assumption silently
    # shifts every timestamp by 1000x.
    "events": _s(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _s(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _s(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}


# The reference's single hard-coded schema: a 19-element string array at
# ``Node.java:113-115`` resolving names to CSV ordinals.  Here it is a
# real typed StructType; the reference treats every field as string and
# mis-parses quoted commas with a naive split (``Operators.java:174``) —
# Spark's CSV reader parses quotes correctly (intended divergence, see
# SURVEY.md §7.4).
TRAFFIC_SIGNS_SCHEMA = _s(
    ("X", T.DoubleType()),
    ("Y", T.DoubleType()),
    ("OBJECTID", T.LongType()),
    ("Sign_Type", T.StringType()),
    ("Size_", T.StringType()),
    ("Supplement", T.StringType()),
    ("Sign_Post", T.StringType()),
    ("Year_Insta", T.StringType()),
    ("Category", T.StringType()),
    ("Notes", T.StringType()),
    ("MUTCD", T.StringType()),
    ("Ownership", T.StringType()),
    ("FACILITYID", T.LongType()),
    ("Schools", T.StringType()),
    ("Location_Adjusted", T.StringType()),
    ("Replacement_Zone", T.StringType()),
    ("Sign_Text", T.StringType()),
    ("Set_ID", T.LongType()),
    ("FieldVerifiedDate", T.StringType()),
)


#: event-time columns whose parquet physical type must be sniffed from
#: the footer before reading (see read_schema_for / convert_ts_cols).
#: EVERY TimestampType column in SCHEMAS belongs here — the round-2
#: ns-drift hit events.ts, but orders/lineitem carry the same
#: TIMESTAMP physical type and a regenerated fixture could drift them
#: identically (r5 review: the guard used to protect one of the three
#: timestamp-bearing tables).
EVENT_TIME_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def parquet_ts_unit(path: str, col: str) -> str:
    """Physical unit of a timestamp parquet column, read from the footer.

    Returns ``'ms'``/``'us'``/``'ns'`` for a parquet TIMESTAMP logical
    type.  One footer read PER PART FILE — O(KB) each, no data scan —
    because one read schema applies to every part, so mixed physical
    units across parts must be refused up front (r5 review), which a
    single-part sniff cannot see.  Each footer read is cached per
    (part file, mtime, col): keying on the file's mtime means a
    rewrite with a different physical unit (the exact NANOS->MICROS
    drift this helper exists to catch) invalidates the cache instead
    of silently reusing the stale unit.  A raw int64 column (no
    timestamp annotation) is an error: its epoch unit is unknowable
    from the file, and guessing is exactly the 1000x-shift failure
    this helper exists to prevent.

    LOCAL-FS ONLY (os.path listing/stat): the driver testdata is local.
    On HDFS/S3 (or ~1M-part tables) the same sniff belongs in a
    distributed or thread-pooled footer pass with the store's
    etag/mtime as the cache key — serial driver-side opens do not
    scale past ~10⁴ parts.  Part-file selection and mtime keying live
    in :mod:`sources.fsmeta` (shared with the index-manifest
    staleness check).
    """
    from .fsmeta import list_part_files, local_mtime

    units = {
        _parquet_ts_unit_cached(f, local_mtime(f), col)
        for f in list_part_files(path)
    }
    if len(units) > 1:
        # one read schema applies to EVERY part; mixed physical units
        # (an incremental rewrite drifting NANOS<->MICROS mid-dataset)
        # would fail mid-job after a first-part-only sniff "verified"
        # the unit — refuse up front instead (r5 review catch)
        raise ValueError(
            f"{path}:{col} has MIXED timestamp units across part files "
            f"({sorted(units)}); rewrite the dataset with one unit"
        )
    return units.pop()


# 64k entries: the cache must hold one row per (part, ts-col) or a
# multi-part table evicts itself every call and re-pays the full
# footer pass (the old 256 bound did exactly that past 256 parts)
@lru_cache(maxsize=65536)
def _parquet_ts_unit_cached(f: str, mtime: float, col: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    typ = pq.ParquetFile(f).schema_arrow.field(col).type
    if pa.types.is_timestamp(typ):
        return typ.unit
    raise ValueError(
        f"{f}:{col} has physical type {typ}; expected a parquet "
        "TIMESTAMP (MILLIS/MICROS/NANOS). A raw integer epoch column has "
        "no self-describing unit - annotate the data or load it yourself."
    )


def read_schema_for(name: str, path: str) -> tuple[T.StructType, dict[str, str]]:
    """Unit-corrected read schema for one table + the conversions needed.

    Spark reads TIMESTAMP(MILLIS/MICROS) natively as TimestampType, but
    TIMESTAMP(NANOS) only as a raw long (``nanosAsLong``, set in
    session.py).  So: sniff each event-time column's unit from the
    footer; ``ns`` columns get a LongType read schema plus a pending
    ``ns`` conversion (returned in the dict for :func:`convert_ts_cols`),
    everything else reads as TimestampType directly.
    """
    schema = SCHEMAS[name]
    ts_cols = EVENT_TIME_COLS.get(name, ())
    if not ts_cols:
        return schema, {}
    conv: dict[str, str] = {}
    fields = []
    for fld in schema.fields:
        if fld.name in ts_cols:
            unit = parquet_ts_unit(path, fld.name)
            if unit == "ns":
                conv[fld.name] = unit
                fields.append(T.StructField(fld.name, T.LongType()))
            else:
                fields.append(T.StructField(fld.name, T.TimestampType()))
        else:
            fields.append(fld)
    return T.StructType(fields), conv


def convert_ts_cols(df: DataFrame, conv: dict[str, str]) -> DataFrame:
    """Apply the pending unit conversions from :func:`read_schema_for`.

    ``ns``: nanos-long -> integer-divide to micros -> TimestampType.
    Lossless for data without sub-microsecond components and identical
    to DuckDB's ns->us truncation, so oracle parity holds.
    """
    for c, unit in conv.items():
        if unit == "ns":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        else:  # pragma: no cover - read_schema_for only emits ns
            raise ValueError(f"unexpected pending ts conversion {c}={unit}")
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-testdata table with its explicit schema.

    Event-time columns get their physical unit sniffed from the parquet
    footer (never assumed) — see :func:`read_schema_for`.  A name
    outside :data:`SCHEMAS` is an ERROR, not a silent inference
    fallback — inference is the extra footer-merge scan this module
    exists to prevent, and it would skip the ts-unit correction
    (a nanos column surfaces as a raw long, silently 1000x-shifted
    when consumers cast it; r5 review catch)."""
    from .fsmeta import strip_file_scheme

    # a file:-spelled local dir must feed the SAME os.path-based
    # footer sniff as its bare spelling (r9 review — the sniff's
    # os.walk saw "no such dataset: file:/..." while Spark itself
    # reads the URI fine)
    sf_dir = strip_file_scheme(sf_dir)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = SCHEMAS.get(name)
    if schema is None:
        raise KeyError(
            f"no explicit schema for table {name!r} — add it to "
            "sources.readers.SCHEMAS (and EVENT_TIME_COLS if it carries "
            "timestamps); this engine never schema-infers a scan"
        )
    conv: dict[str, str] = {}
    if name in EVENT_TIME_COLS:
        schema, conv = read_schema_for(name, path)
    df = spark.read.schema(schema).parquet(path)
    return convert_ts_cols(df, conv)


def register_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table present in ``sf_dir`` as a temp
    view (unit-corrected schemas included), making the whole engine
    queryable through plain ``spark.sql`` — the ANSI-SQL front door
    next to the RAINSTORM command surface.  Returns the view names.

    LOCAL-FS ONLY, and loudly so (r7 review): presence is decided with
    a driver-local listing (the ts-unit sniff underneath is os.walk
    anyway), which is always-False for hdfs://s3a:// URIs — silently
    returning zero views there would surface later as
    TABLE_OR_VIEW_NOT_FOUND with the real cause hidden.  A
    ``file:``-spelled LOCAL dir is normalized first (r9 review: any of
    Hadoop's three spellings used to make every ``os.path.exists``
    probe below always-False — zero views registered, silently, the
    exact failure this guard exists to refuse)."""
    from .fsmeta import strip_file_scheme

    sf_dir = strip_file_scheme(sf_dir)
    if "://" in sf_dir:
        raise ValueError(
            f"register_tables is local-FS only (driver testdata); got "
            f"remote URI {sf_dir!r} — its footer sniff and presence "
            "checks are driver-local and would silently register nothing"
        )
    out = []
    for name in SCHEMAS:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            out.append(name)
    return out


def read_traffic_signs_csv(spark: SparkSession, path: str) -> DataFrame:
    """Quote-correct CSV read of the reference's Traffic_Signs dataset
    (``file_system/data_storage/local_file/traffic_signs.csv``)."""
    return spark.read.csv(path, header=True, schema=TRAFFIC_SIGNS_SCHEMA, quote='"', escape='"')


def read_text_lines(spark: SparkSession, path: str, with_provenance: bool = True) -> DataFrame:
    """Line source mirroring the reference tuple model.

    The reference tags each line ``uniqueId:chunkFileName,lineNumber,line``
    (``Node.java:907-913``; per-chunk UUID at ``Node.java:775``).  Here:
    ``value`` plus provenance columns ``src_file`` / ``line_id`` / ``uid``.
    ``line_id`` is a partition-stable id (``monotonically_increasing_id``),
    unique and reproducible per file layout, not a dense per-file line
    number — dense numbering would force a global sort; the engine only
    needs uniqueness (dedup on retry) and provenance, never density.

    ``uid`` is DETERMINISTIC — ``md5(src_file:line_id)``, not ``uuid()``
    — so re-evaluating the plan (a second write job, a retried stage, a
    downstream audit query) yields the SAME ids: the property that makes
    a results sink and a provenance sink written from one frame actually
    cross-reference, and that makes dedup-on-retry idempotent.
    """
    df = spark.read.text(path)
    if not with_provenance:
        return df
    df = df.select(
        F.col("value"),
        F.input_file_name().alias("src_file"),
        F.monotonically_increasing_id().alias("line_id"),
    )
    return df.withColumn(
        "uid", F.md5(F.concat_ws(":", F.col("src_file"), F.col("line_id")))
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """JSON-lines ingest with an explicit schema — the de-facto wire
    format of training-data pipelines.

    Scale posture: the schema is REQUIRED (inference is a full extra
    pass over 100 TB), and malformed lines land in ``corrupt_col``
    (PERMISSIVE mode) instead of failing the job — callers split the
    frame on ``corrupt_col IS NULL`` to route rejects to a quarantine
    sink.  CAVEAT (Spark restriction, r7 review): a query that
    references ONLY the corrupt column on the raw parsed frame raises
    AnalysisException — ``.cache()`` the frame (or select at least one
    data column alongside) before filtering on ``corrupt_col``.  JSONL
    splits by newline, so unlike multi-line JSON it parallelizes
    per-block like text.
    """
    # build a NEW StructType — StructType.add mutates the caller's schema
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines egress (one object per line, partition-parallel).
    Delegates to :func:`sinks.writers.write_results` — one audited
    egress path per format (r5 review catch: this was a drift-prone
    duplicate of the json branch there)."""
    from ..sinks.writers import write_results

    write_results(df, path, fmt="json", mode=mode)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ORC — the second columnar interchange format beside
    parquet (Hive-ecosystem handoffs).  Same pushdown/pruning story:
    ORC carries column statistics and predicate pushdown, so queries
    over an ORC copy keep the scan-side behavior the plan tests pin
    for parquet."""
    df.write.mode(mode).orc(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read ORC with an optional explicit schema (the same
    no-silent-inference posture as the parquet/CSV/JSONL readers)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
