"""Batch sources (SURVEY.md §2.1).

The reference streams rows one dict at a time from MySQL/CSV/files
(/root/reference/metalpipe/node.py:1346-1525).  Here every source is a
DataFrame reader: schema, predicate pushdown, and column pruning come from
the data source API; a 100 TB parquet directory and a 4-row CSV read
through the same code path.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# The session confs that change the schema Spark infers from a parquet
# footer (``ParquetToSparkSchemaConverter(SQLConf)``), plus the two that
# decide which footers it reads.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)
_SCHEMA_CACHE_SIZE = 256
_schema_cache: OrderedDict[tuple, object] = OrderedDict()
_schema_lock = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a table file's schema once.

    Without a schema, every parquet read starts one Spark job that reads
    the footer again (``mergeSchemasInParallel``, ~40 ms at fixture
    scale).  The schema Spark inferred for a regular file is kept in a
    process-wide cache (at most ``_SCHEMA_CACHE_SIZE`` entries, oldest
    evicted) and later reads pass it to ``spark.read.schema``, which
    starts no job.  The key is the file's stat fingerprint (realpath,
    ``st_dev``, ``st_ino``, ``st_size``, ``st_mtime_ns``,
    ``st_ctime_ns``) and the values of ``_SCHEMA_CONFS``, so a file
    rewritten in place, or a session conf that changes what Spark infers,
    misses and infers again.

    A directory or a path ``os.stat`` cannot see (a URI, a glob, a
    missing path) is read exactly as ``spark.read.parquet`` reads it, on
    every call, and never cached: a file added to a partition
    subdirectory leaves the table directory's stat unchanged, so no cheap
    key covers a directory.
    """
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    # One ``get`` per conf: ``spark.conf.getAll`` costs ~20 ms, since
    # py4j fetches each entry of the map in its own round trip.
    key = (
        os.path.realpath(path),
        st.st_dev,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        st.st_ctime_ns,
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    schema = _schema_cache.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_lock:
        _schema_cache[key] = df.schema
        while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
            _schema_cache.popitem(last=False)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Load one driver-provided parquet table (TESTDATA.md).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which the
    vectorized reader rejects; read it as raw nanos (legacy conf) and
    truncate to microseconds with integer division — ``ts div 1000`` stays
    in LONG arithmetic, so no double rounding on int64 nanos.

    Depending on the Spark version / reader config, parquet timestamps may
    also surface as TIMESTAMP_NTZ (PySpark 4.1 reads the driver parquet this
    way).  NTZ breaks ``unix_millis`` and Structured Streaming watermarks,
    so normalize to tz-aware ``timestamp`` — at the SCAN, not as a
    projection: ``inferTimestampNTZ.enabled=false`` makes the parquet
    reader emit TIMESTAMP directly, so predicates on timestamp columns
    (``l_shipdate``, ``o_orderdate``) still push down to the scan.  A
    projection cast would sit between filter and scan and disable
    pushdown on every TPC-H hot path.  The cast loop below is only a
    fallback for readers that ignore the conf.  The session timezone is
    pinned to UTC (session.py), so the wall-clock value maps to the
    identical instant and the DuckDB oracle is unaffected.
    """
    from pyspark.sql import functions as F

    _set_conf_once(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        _set_conf_once(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    if rebalance:
        df = rebalance_small_scan(spark, df, os.path.join(sf_dir, f"{name}.parquet"))
    return df


def rebalance_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Spread a row-group-starved scan across the cluster's cores for
    CPU-per-row-heavy downstream work (regex chains, shingling, decimal
    aggregation).

    Parquet scans parallelize at ROW-GROUP granularity: a file with one
    row group is one task no matter how many cores exist, so an
    operator whose cost is per-row CPU rather than bytes runs
    single-threaded on small single-file inputs (exactly the driver's
    test parquet: 1 row group per table).  When — and only when — the
    metadata probe shows fewer row groups than half the cores AND the
    file is small enough that a shuffle is trivially cheap, insert one
    round-robin repartition.  At scale the gate self-disables: a 100 TB
    table has thousands of row groups (and exceeds the byte ceiling),
    so the plan carries no extra exchange.  Callers opt in per site —
    join-shaped queries must NOT use this (the exchange costs more than
    the parallelism wins; measured on TPC-H q03/q05).  Filters and
    column pruning still reach the scan: Catalyst pushes predicates
    through Repartition, so the shuffle carries only surviving rows."""
    try:
        if not os.path.isfile(path) or os.path.getsize(path) > 256 * 1024 * 1024:
            return df
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        groups, rows = meta.num_row_groups, meta.num_rows
    except Exception:
        return df
    cores = spark.sparkContext.defaultParallelism
    if groups * 2 >= cores:
        return df
    # Width capped by row count as well as cores: on a wide cluster
    # (defaultParallelism in the thousands) a small file must not shatter
    # into near-empty partitions — ~64 rows per task is plenty for
    # per-row-CPU work, and the cap keeps task count proportional to
    # the data.
    return df.repartition(max(1, min(cores, rows // 64)))


def cpu_pair_partitions(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    per_task_bytes: int = 64 * 1024 * 1024,
) -> int | None:
    """Explicit partition count for a post-shuffle stage whose cost is
    per-PAIR CPU rather than bytes (shingle/band self-joins), or None
    when byte-based sizing already reaches the core count.

    AQE coalesces post-shuffle partitions by INPUT bytes; a candidate
    self-join shuffles a few bytes per row and then expands
    quadratically inside the stage, so at fixture scale the pair
    explosion drains through a handful of tasks while the cores idle
    (r17 verdict: q_jaccard_pairs at 9 tasks on 32 cores).  An explicit
    ``repartition(n, key)`` is exempt from AQE coalescing, so it acts
    as a parallelism floor — and because the join's required
    distribution is satisfied by it, the plan's Exchange count is
    unchanged (the floor replaces the join's own shuffle, not adds to
    it).  Self-disabling at scale: when the feeding table's bytes
    already give AQE >= defaultParallelism tasks at ``per_task_bytes``
    each, returns None and the caller leaves AQE in charge (a fixed
    count would CAP partitioning that the data needs to exceed)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if not os.path.isfile(path):
            return None
        size = os.path.getsize(path)
    except OSError:
        return None
    cores = spark.sparkContext.defaultParallelism
    if size >= cores * per_task_bytes:
        return None
    return cores


def _set_conf_once(spark: SparkSession, key: str, value: str) -> None:
    """Idempotent session-conf set: reads before writing so repeated
    ``load_table`` calls don't mutate session state on every load (the
    driver owns the session, so the conf must still be applied the first
    time regardless of how the session was built)."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full star schema as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TPCH_TABLES}


def csv_reader(
    spark: SparkSession, path: str, header: bool = True, infer_schema: bool = True
) -> DataFrame:
    """CSVReader / CSVToDictionaryList (node.py:1488-1497, 1080-1088) —
    CSV → one row per record, schema inferred like the reference's
    DictReader-of-strings but typed."""
    return spark.read.csv(path, header=header, inferSchema=infer_schema)


def jsonl_reader(
    spark: SparkSession,
    path: str,
    schema: "T.StructType | str | None" = None,
    multiline: bool = False,
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON-lines reader — the batch face of the reference's JSON
    streaming intake (network_nodes.py:172-241 parses HTTP/socket JSON
    bodies row-by-row); web-scale corpora arrive as JSONL shards, so
    this is the documents-table on-ramp.

    ``schema`` should be EXPLICIT in production: schema inference is a
    second full pass over the data — at corpus scale that doubles the
    scan bill before any real work (None is accepted for exploration
    and small fixtures).  ``corrupt_col`` opts into PERMISSIVE
    dead-lettering: malformed lines land whole in that column instead
    of killing the job (the 100 TB default — one bad shard must not
    fail a day's ingest), and the column is appended to the schema
    automatically.  With ``corrupt_col=None`` malformed lines become
    all-NULL rows (Spark's PERMISSIVE default)."""
    from pyspark.sql import types as T

    reader = spark.read
    if schema is not None:
        if corrupt_col is not None:
            # The corrupt-record column must exist in the schema for
            # PERMISSIVE mode to populate it.
            if isinstance(schema, str):
                schema = f"{schema}, {corrupt_col} string"
            else:
                schema = schema.add(corrupt_col, T.StringType())
        reader = reader.schema(schema)
    if corrupt_col is not None:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    return reader.option("multiLine", multiline).json(path)


def local_file_reader(
    spark: SparkSession, path: str, serialize: bool = False
) -> DataFrame:
    """LocalFileReader (node.py:1463-1485) — whole-file or line-serialized
    text.  ``serialize=True`` emits one row per line (the reference's
    ``serialize`` flag); otherwise one row per file."""
    return spark.read.text(path, wholetext=not serialize)


def jdbc_table(
    spark: SparkSession, url: str, table: str, properties: dict[str, str] | None = None
) -> DataFrame:
    """StreamMySQLTable / CivisToCSV (node.py:1346-1409,
    civis_nodes.py:429-482) — a database table as a DataFrame.  Schema
    comes from JDBC metadata (the reference reads information_schema by
    hand); SQL pushdown via a query-in-``table`` string works unchanged."""
    return spark.read.jdbc(url, table, properties=properties or {})


def mysql_type_to_spark(type_string: str):
    """MySQL schema type string → Spark ``DataType`` — the analog of the
    reference's string-to-class mapping (data_structures.py:76-106:
    ``int(8)`` → ``MYSQL_INTEGER8``, ``varchar(40)`` → VARCHAR class,
    unknown → varchar fallback).  JDBC metadata is the normal schema
    path (``jdbc_table``); this parser serves hand-written MySQL DDL in
    YAML configs and schema assertions in tests.

    Parenthesized lengths parse but do not change the Spark type where
    Spark has no narrower one: MySQL's ``int(8)`` is a DISPLAY width
    (storage is 32-bit regardless), so every ``int(N)`` maps to
    IntegerType, and ``varchar(N)`` to StringType (Spark treats VARCHAR
    as STRING outside DDL enforcement).  Unknown types fall back to
    StringType — the reference's lenient behavior — rather than
    raising, so a config written against a newer MySQL keeps loading."""
    from pyspark.sql import types as T

    s = type_string.strip().lower()
    base = s.split("(", 1)[0].strip()
    unsigned = base.endswith(" unsigned") or s.endswith(" unsigned")
    base = base.replace(" unsigned", "").strip()
    if base == "tinyint":
        # tinyint(1) is MySQL's boolean convention (BOOL aliases it;
        # the unsigned variant is a real 0-255 number, not a flag).
        if s.startswith("tinyint(1)") and not unsigned:
            return T.BooleanType()
        # unsigned exceeds the signed range -> widen, like JDBC does
        return T.ShortType() if unsigned else T.ByteType()
    if base == "smallint":
        return T.IntegerType() if unsigned else T.ShortType()
    if base in ("int", "integer", "mediumint"):
        # unsigned int exceeds IntegerType's range; widen like JDBC does
        return T.LongType() if unsigned else T.IntegerType()
    if base == "bigint":
        return T.DecimalType(20, 0) if unsigned else T.LongType()
    if base == "float":
        return T.FloatType()
    if base in ("double", "real"):
        return T.DoubleType()
    if base in ("decimal", "numeric"):
        inner = s[s.index("(") + 1 : s.rindex(")")] if "(" in s else "10,0"
        parts = [p.strip() for p in inner.split(",")]
        prec = int(parts[0])
        scale = int(parts[1]) if len(parts) > 1 else 0
        return T.DecimalType(prec, scale)
    if base == "date":
        return T.DateType()
    if base in ("datetime", "timestamp"):
        return T.TimestampType()
    if base in ("binary", "varbinary", "blob", "tinyblob", "mediumblob", "longblob"):
        return T.BinaryType()
    if base in ("bit",):
        return T.BooleanType() if s in ("bit", "bit(1)") else T.LongType()
    if base == "year":
        return T.IntegerType()
    # char/varchar/text/enum/set/json and anything unrecognized
    return T.StringType()


def mysql_schema_to_struct(columns) -> "T.StructType":
    """``[(name, mysql_type_string), ...]`` (or a name→type mapping) →
    a Spark ``StructType`` — the table-level face of
    :func:`mysql_type_to_spark`, mirroring how the reference built a
    row schema from information_schema rows (node.py:1346-1384)."""
    from pyspark.sql import types as T

    items = columns.items() if hasattr(columns, "items") else columns
    return T.StructType(
        [T.StructField(name, mysql_type_to_spark(ts), True) for name, ts in items]
    )


def load_arpa(
    spark: SparkSession,
    path: str,
    order: int | None = None,
    batch_rows: int = 500_000,
):
    """Load a KenLM-style ``.arpa`` language model into the
    ``(ngram, order, logprob, backoff)`` table :func:`operators.text.
    ngram_logprob` consumes — real CCNet-style perplexity filtering
    starts from a KenLM export, and this makes the operator drop-in:

        lm = load_arpa(spark, "wiki.arpa", order=2).select("ngram", "logprob")
        scored = ngram_logprob(docs, lm, n=2)

    ARPA entries are ``logprob \\t w1 .. wN [\\t backoff]`` under a
    ``\\N-grams:`` section header; the token count per line is
    AMBIGUOUS without the section (a numeric word is indistinguishable
    from a backoff weight), so parsing is positional and streams the
    file ONCE driver-side, emitting Arrow-sized row batches that union
    into one DataFrame — an LM is vocabulary-scale (MBs-GBs), not
    corpus-scale, and loads once per job; convert offline to parquet if
    a model outgrows the driver.  Logprobs stay in ARPA's log10 — the
    scorer treats them opaquely, so base only needs to match the
    ``oov_logprob`` you pass it.  Declared ``ngram N=count`` headers
    are validated against parsed rows (a truncated download fails
    loudly, not as a silently weaker model).  ``order`` filters to one
    section (pushed into the parse, so unneeded sections never
    materialize).

    Reference parity: the reference has no LM loader; this extends the
    engine's quality-filter family (SURVEY.md LLM-pipeline surface).
    """
    declared: dict[int, int] = {}
    parsed: dict[int, int] = {}
    schema = "ngram string, order int, logprob double, backoff double"

    def batches():
        # Plain tuple rows, NOT a pandas frame: a missing backoff must
        # reach Spark as NULL on ANY session, and the pandas float path
        # folds None to NaN whose NULL-coercion then depends on the
        # session's Arrow setting (reproduced: NULL under the test
        # session, NaN under a vanilla driver session).
        cur: int | None = None
        rows: list[tuple] = []

        def flush():
            nonlocal rows
            if rows:
                yield rows
                rows = []

        with open(path, encoding="utf-8") as f:
            for raw in f:
                line = raw.strip()
                if not line:
                    continue
                if line.startswith("\\"):
                    if line == "\\end\\":
                        break
                    if line.endswith("-grams:"):
                        cur = int(line[1:].split("-", 1)[0])
                    else:  # \data\ or an extension section
                        cur = None
                    continue
                if cur is None:
                    if line.startswith("ngram "):
                        k, v = line[6:].split("=", 1)
                        declared[int(k)] = int(v)
                    continue
                if order is not None and cur != order:
                    parsed[cur] = parsed.get(cur, 0) + 1
                    continue
                fields = line.split()
                if len(fields) == cur + 2:
                    backoff = float(fields[-1])
                    words = fields[1:-1]
                elif len(fields) == cur + 1:
                    backoff = None
                    words = fields[1:]
                else:
                    raise ValueError(
                        f"load_arpa: malformed {cur}-gram line "
                        f"({len(fields)} fields): {line[:120]!r}"
                    )
                parsed[cur] = parsed.get(cur, 0) + 1
                rows.append(
                    (" ".join(words), cur, float(fields[0]), backoff)
                )
                if len(rows) >= batch_rows:
                    yield from flush()
        yield from flush()

    parts = [spark.createDataFrame(batch, schema) for batch in batches()]
    for o, want in declared.items():
        got = parsed.get(o, 0)
        if got != want:
            raise ValueError(
                f"load_arpa: header declares ngram {o}={want} but file "
                f"carries {got} — truncated or corrupt model"
            )
    if order is not None and declared and order not in declared:
        raise ValueError(
            f"load_arpa: order={order} not in model (has {sorted(declared)})"
        )
    if order is not None and not declared and parsed.get(order, 0) == 0:
        # Header-less ARPA (no \data\ section): the declared-count check
        # above can't fire, so a missing order= section must still fail
        # loudly instead of returning an empty DataFrame — a silently
        # weaker LM downstream is the failure mode this guard exists for.
        raise ValueError(
            f"load_arpa: order={order} has no n-grams in header-less model "
            f"(sections present: {sorted(parsed)})"
        )
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
