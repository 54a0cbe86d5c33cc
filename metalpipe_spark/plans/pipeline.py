"""Pipeline-config compiler: YAML ``nodes``/``paths`` → DataFrame graph
(SURVEY.md §3.1).

The reference CLI builds a thread-per-node object graph from YAML
(/root/reference/metalpipe/bin/metalpipe:85-107) and pumps dict messages
through bounded queues.  Here the same config compiles to a DAG of
DataFrame transformations: each node class is a planning rule that maps
(upstream DataFrames, options) to a new DataFrame, and execution is
whatever action the caller runs on the terminal DataFrames — Catalyst
then owns optimization, scheduling, and distribution.

Config shape (reference parity, source/configuration.rst:6-44):

    pipeline_name: my_pipeline
    nodes:
      read_customers:
        class: ParquetReader
        options: {path: /data/customer.parquet}
      only_building:
        class: Filter
        options: {test: value_is_not_none, test_keypath: c_name}
    paths:
      - [read_customers, only_building]

Fan-out = one node feeding several paths (the DataFrame is reused; Spark
may recompute or reuse the scan — caching is an explicit option).
Fan-in = several nodes feeding one (the reference interleaves messages,
node.py:431 → ``unionByName``), except join nodes which consume named
upstreams.

Option defaults live in the operator signatures, never here: a node
passes an operator only the options its config sets (:func:`_kwargs`),
and the operator's own default covers the rest, so a YAML user and a
Python caller always get the same default.  A node that is one operator
call is a :class:`OperatorNode` registration, not a function.  Four
YAML defaults differ from the operator's on purpose, each noted where it
is set: ``CSVToDictionaryList`` ``infer_schema: false``, ``Join``
``broadcast: false``, ``NearDupDedup`` ``bands: 8`` and
``TrainBackoffLM``'s prune ``n`` (the trainer's 3).  Options a node uses
itself (output column names, a join's ``id_col``, ``keep_only``, view
names) keep their defaults in the node.

Template phase: jinja2 with the reference's evaluator-function contract
(bin/metalpipe:46-74) — any undeclared template variable is resolved by
importing it as a dotted path and calling it with no args; plain names
fall back to environment variables.  Secrets phase: token strings from
secrets YAML files are replaced throughout the config tree
(bin/metalpipe:23-37,77-83).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metalpipe_spark.operators.filtering import random_sample, systematic_sample
from metalpipe_spark.operators.joins import enrich_join
from metalpipe_spark.operators.transform import insert_data, simple_transforms
from metalpipe_spark.sources.emitters import constant_emitter
from metalpipe_spark.sources.readers import csv_reader, read_parquet
from metalpipe_spark.udf_registry import load_function, wrap_udf

# ---------------------------------------------------------------------------
# Node-class registry


@dataclass
class NodeSpec:
    name: str
    cls: str
    options: dict[str, Any] = field(default_factory=dict)


# builder(spark, upstreams: list[DataFrame], options) -> DataFrame | None
NodeBuilder = Callable[[SparkSession, list[DataFrame], dict], DataFrame | None]

NODE_CLASSES: dict[str, NodeBuilder] = {}


def node_class(name: str):
    def deco(fn: NodeBuilder):
        NODE_CLASSES[name] = fn
        return fn

    return deco


def _one(upstreams: list[DataFrame], cls: str) -> DataFrame:
    if len(upstreams) == 1:
        return upstreams[0]
    if not upstreams:
        raise ValueError(f"{cls} requires an upstream node")
    # Fan-in: interleaved message streams (node.py:431) == union.
    df = upstreams[0]
    for other in upstreams[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    return df


def _kwargs(opts: Mapping[str, Any], *keys: str, **renamed: str) -> dict[str, Any]:
    """The operator keywords a config sets: ``{k: opts[k]}`` for each of
    ``keys`` present in ``opts``, and ``{param: opts[key]}`` for each
    ``param="key"`` rename.  A key the config leaves out is not passed,
    so the operator's signature default applies; an explicit ``null``
    is passed as ``None``."""
    pairs = [(k, k) for k in keys] + list(renamed.items())
    return {param: opts[key] for param, key in pairs if key in opts}


def _cast(kwargs: dict[str, Any], **fns: Callable) -> dict[str, Any]:
    """``kwargs`` with ``fns[p]`` applied to each ``p`` it holds — for a
    YAML value the operator takes as another type (``warc_version: 1.0``
    parses as a float)."""
    return {p: fns[p](v) if p in fns else v for p, v in kwargs.items()}


def _tuple(v):
    return None if v is None else tuple(v)


@dataclass
class OperatorNode:
    """A node that is one operator call: the upstream (the session for a
    ``source``) followed by the node's options as keywords.  ``path`` is
    resolved at each compile, so a tracer that rebinds module attributes
    sees the call, and the operator's module loads only when a config
    uses the node."""

    cls: str
    path: str
    required: tuple[str, ...] = ()  # read as opts[k]: a missing one raises
    optional: tuple[str, ...] = ()
    renamed: dict[str, str] = field(default_factory=dict)  # param -> YAML key
    source: bool = False

    def __call__(self, spark, upstreams, opts):
        first = spark if self.source else _one(upstreams, self.cls)
        return load_function(self.path)(
            first,
            **{k: opts[k] for k in self.required},
            **_kwargs(opts, *self.optional, **self.renamed),
        )


def operator_node(cls: str, path: str, **fields) -> None:
    NODE_CLASSES[cls] = OperatorNode(cls, path, **fields)


# -- sources ----------------------------------------------------------------


@node_class("ParquetReader")
def _parquet_reader(spark, upstreams, opts):
    return read_parquet(spark, opts["path"])


operator_node(
    "CSVReader", "metalpipe_spark.sources.readers.csv_reader",
    required=("path",), optional=("header", "infer_schema"), source=True,
)


@node_class("CSVToDictionaryList")
def _csv_to_dictionary_list(spark, upstreams, opts):
    """node.py:1080-1088 — parse a CSV and emit the ENTIRE row list as ONE
    message: a single row holding array<struct>.  The one-message
    shape is inherently small-data (the reference buffers the whole list in
    one dict), so the collect_list to a single row is by-construction
    bounded — large CSVs belong on the per-row ``CSVReader`` path."""
    df = csv_reader(
        spark,
        opts["path"],
        **_kwargs(opts, "header"),
        # off, unlike csv_reader: csv.DictReader yields all-strings dicts
        infer_schema=opts.get("infer_schema", False),
    )
    out_key = opts.get("output_key", "rows")
    return df.agg(F.collect_list(F.struct(*df.columns)).alias(out_key))


operator_node(
    "LocalFileReader", "metalpipe_spark.sources.readers.local_file_reader",
    required=("path",), optional=("serialize",), source=True,
)
operator_node(
    "JSONLReader", "metalpipe_spark.sources.readers.jsonl_reader",
    required=("path",), optional=("schema", "multiline", "corrupt_col"), source=True,
)


@node_class("WETReader")
def _wet_reader(spark, upstreams, opts):
    """Common Crawl WET (text-conversion) archives -> one row per
    record (sources/warc.py:read_wet).  ``mode: exact`` opts into the
    Content-Length byte walk for payloads that may contain the record
    framing; the default delimiter split is pure JVM scan."""
    from metalpipe_spark.sources.warc import read_wet

    kw = _kwargs(opts, "mode", "warc_version", "record_types", "on_error")
    return read_wet(spark, opts["path"], **_cast(kw, warc_version=str, record_types=_tuple))


@node_class("WARCReader")
def _warc_reader(spark, upstreams, opts):
    """Raw WARC response captures -> header columns + http_status /
    http_content_type / binary payload (sources/warc.py:read_warc);
    chain HtmlExtract to turn text/html payloads into training text."""
    from metalpipe_spark.sources.warc import read_warc

    kw = _kwargs(opts, "record_types", "on_error")
    return read_warc(spark, opts["path"], **_cast(kw, record_types=_tuple))


@node_class("HtmlExtract")
def _html_extract(spark, upstreams, opts):
    """Visible text of an HTML column (operators/web.py:
    html_extract_text) — binary payloads (WARCReader's) cast to UTF-8
    first.  Pure regexp codegen; no UDF."""
    from metalpipe_spark.operators.web import html_extract_text

    df = _one(upstreams, "HtmlExtract")
    col = opts.get("column", "payload")
    src = F.col(col)
    if dict(df.dtypes).get(col) == "binary":
        src = src.cast("string")
    return df.withColumn(opts.get("output_key", "text"), html_extract_text(src))


# KenLM .arpa LM -> (ngram, order, logprob, backoff) table; feed the
# order-filtered slice to NgramLogprob for CCNet-style perplexity filtering.
operator_node(
    "ArpaReader", "metalpipe_spark.sources.readers.load_arpa",
    required=("path",), optional=("order",), source=True,
)


@node_class("NgramLogprob")
def _ngram_logprob_node(spark, upstreams, opts):
    """Mean n-gram log-probability per document (the CCNet perplexity
    cut).  One upstream = corpus scored against an inline ``lm`` dict;
    two upstreams = [corpus, lm table] — wire an ArpaReader here.
    ``backoff: true`` (two-upstream form only) scores through
    ``ngram_logprob_backoff``: the lm table keeps its ``order`` and
    backoff columns and unseen grams chain down through real
    lower-order evidence — the KenLM/CCNet behavior for a
    multi-section ARPA or a ``train_backoff_lm`` table."""
    from metalpipe_spark.operators.text import (
        ngram_logprob,
        ngram_logprob_backoff,
    )

    backoff = bool(opts.get("backoff", False))
    if backoff and opts.get("order") is not None:
        # 'order' slices a multi-order table down to the FLAT scorer's
        # single section; the backoff scorer consumes every order by
        # design, so combining them would silently run different
        # semantics than the config requests (r16 advice).
        raise ValueError(
            "NgramLogprob: 'order' is flat-path-only (it slices a "
            "multi-order table for ngram_logprob); backoff: true "
            "scores ALL orders — drop one of the two options"
        )
    kw = _kwargs(opts, "n", "oov_logprob", "text_col", "id_col")
    if len(upstreams) == 2:
        corpus, lm = upstreams
        if backoff:
            return ngram_logprob_backoff(corpus, lm, **kw)
        if opts.get("order") is not None:  # slice a multi-order ARPA table
            lm = lm.where(F.col("order") == int(opts["order"]))
        lm = lm.select("ngram", "logprob")
    elif len(upstreams) == 1 and "lm" in opts:
        if backoff:
            raise ValueError(
                "NgramLogprob: backoff scoring needs a multi-order lm "
                "TABLE upstream (ArpaReader / train_backoff_lm), not an "
                "inline lm dict"
            )
        corpus, lm = upstreams[0], dict(opts["lm"])
    else:
        raise ValueError(
            "NgramLogprob requires [corpus, lm] upstreams or an lm option"
        )
    return ngram_logprob(corpus, lm, **kw)


# Single-order add-k LM trainer: a (ngram, n_count, ctx_count, prob,
# logprob) model table, wirable into NgramLogprob's second upstream or
# WriteArpa.
operator_node(
    "TrainNgramLM", "metalpipe_spark.operators.text.train_ngram_lm",
    optional=("n", "k", "text_col"),
)


@node_class("TrainBackoffLM")
def _train_backoff_lm_node(spark, upstreams, opts):
    """Multi-order backoff LM trainer
    (``operators.text.train_backoff_lm``) as a config node — the YAML
    face of the CCNet train half.  ``smoothing: kn`` trains
    interpolated Kneser-Ney; ``discount`` is a float or ``ney``;
    ``min_counts`` / ``entropy_threshold`` apply
    ``operators.text.prune_lm`` to the trained table in the same node
    (the common train-then-prune deployment), so
    ``docs -> TrainBackoffLM -> NgramLogprob(backoff)`` or
    ``-> WriteArpa`` is a complete curation loop in config."""
    from metalpipe_spark.operators.text import prune_lm, train_backoff_lm

    lm = train_backoff_lm(
        _one(upstreams, "TrainBackoffLM"),
        **_kwargs(opts, "n", "text_col", "discount", "smoothing"),
    )
    if opts.get("min_counts") is not None or opts.get(
        "entropy_threshold"
    ) is not None:
        lm = prune_lm(
            lm,
            **_kwargs(opts, "min_counts", "entropy_threshold"),
            # the trained table's order: train_backoff_lm's n default
            n=opts.get("n", 3),
        )
    return lm


# Standalone pruning, for a trainer table produced elsewhere in the graph
# at a different threshold than the trainer node applied.
operator_node(
    "PruneLM", "metalpipe_spark.operators.text.prune_lm",
    optional=("min_counts", "entropy_threshold", "n"),
)


@node_class("WriteArpa")
def _write_arpa_node(spark, upstreams, opts):
    """Export the upstream LM table as a KenLM-interchange ``.arpa``
    artifact (``operators.text.write_arpa``) — the ship step between
    the train job and the scoring job.  The write happens AT COMPILE
    (the Blocker precedent: sinks act eagerly so a config run leaves
    the artifact on disk); the node forwards the LM table unchanged so
    a graph can export AND keep scoring with the same model."""
    from metalpipe_spark.operators.text import write_arpa

    lm = _one(upstreams, "WriteArpa")
    write_arpa(lm, opts["path"], **_kwargs(opts, "n"))
    return lm


@node_class("ConstantEmitter")
def _constant_emitter(spark, upstreams, opts):
    return constant_emitter(spark, opts.get("thing"), **_kwargs(opts, "max_loops"))


operator_node(
    "SequenceEmitter", "metalpipe_spark.sources.emitters.sequence_emitter",
    required=("sequence",), optional=("max_sequences",), source=True,
)
operator_node(
    "CounterOfThings", "metalpipe_spark.sources.emitters.counter_of_things",
    optional=("start", "end"), source=True,
)


@node_class("GetEnvironmentVariables")
def _env_vars(spark, upstreams, opts):
    """node.py:1145-1191 — emit one row of environment values (driver-side
    by nature; becomes a literal one-row DataFrame).  ``mappings`` renames
    variables to output keys; unset variables yield NULL (explicit string
    schema so an all-unset row still has stable types)."""
    names = opts.get("environment_variables", [])
    mappings = opts.get("mappings", {})
    row = {mappings.get(v, v): os.environ.get(v) for v in names}
    schema = T.StructType([T.StructField(k, T.StringType()) for k in row])
    return spark.createDataFrame([tuple(row.values())], schema)


# -- transforms -------------------------------------------------------------


operator_node(
    "Filter", "metalpipe_spark.operators.filtering.filter_node",
    required=("test", "test_keypath"), optional=("value",),
)
operator_node(
    "Remapper", "metalpipe_spark.operators.transform.remapper", required=("mapping",),
)


@node_class("InsertData")
def _insert(spark, upstreams, opts):
    return insert_data(
        _one(upstreams, "InsertData"),
        opts.get("values", {k: v for k, v in opts.items() if k not in ("overwrite", "overwrite_if_null")}),
        **_kwargs(opts, "overwrite", "overwrite_if_null"),
    )


operator_node(
    "SubstituteRegex", "metalpipe_spark.operators.transform.substitute_regex",
    required=("key", "match_regex", "substitute_string"),
)


@node_class("SimpleTransforms")
def _simple_transforms(spark, upstreams, opts):
    """node.py:1194-1254 — dotted-path functions applied at tail-matching
    keypaths.  Functions load via the UDF registry; declared
    ``return_type`` keeps the wrapper typed."""
    # Reference option name first (node.py:1199 `transform_mapping`),
    # `transforms` as this engine's alias.  (An earlier revision read
    # the list from "missing_keypaths" — a confusion with the
    # reference's missing_keypath_action TOLERANCE flag; that key never
    # held transform specs in any config shape.)
    raw_specs = opts.get("transform_mapping", opts.get("transforms"))
    if raw_specs is None:
        raise ValueError(
            "SimpleTransforms needs 'transform_mapping' (reference name) "
            "or 'transforms'"
        )
    specs = []
    for raw in raw_specs:
        spec = dict(raw)
        if "target_function" in spec and isinstance(spec["target_function"], str):
            # the reference writes dotted paths with '__' separators
            # (node.py:1216 splits on '__'); accept both spellings.
            path = spec["target_function"]
            if "." not in path:
                path = path.replace("__", ".")
            fn = wrap_udf(path, spec.get("return_type", "string"))
            spec["target_function"] = lambda c, _f=fn: _f(c)
        specs.append(spec)
    return simple_transforms(_one(upstreams, "SimpleTransforms"), specs)


operator_node(
    "Serializer", "metalpipe_spark.operators.transform.serializer",
    required=("key",), optional=("output_key",),
)


@node_class("RandomSample")
def _sample(spark, upstreams, opts):
    if "modulus" in opts:
        return systematic_sample(
            _one(upstreams, "RandomSample"), opts["key"], opts["modulus"],
            **_kwargs(opts, "remainder"),
        )
    return random_sample(_one(upstreams, "RandomSample"), **_kwargs(opts, "sample", "seed"))


operator_node(
    "BatchMessages", "metalpipe_spark.operators.aggregate.batch_messages",
    required=("batch_size", "key"), optional=("payload",),
)
operator_node(
    "AggregateValues", "metalpipe_spark.operators.aggregate.aggregate_values_node",
    required=("tail_path",), optional=("output_key",),
)
operator_node(
    "RowStatCollector", "metalpipe_spark.operators.aggregate.row_stat_collector",
    optional=("columns",),
)


@node_class("Join")
def _join(spark, upstreams, opts):
    """Batch equi-join of two upstream branches (completes the intent of
    the reference's StreamingJoin stub, node.py:1528-1552)."""
    if len(upstreams) != 2:
        raise ValueError("Join requires exactly two upstream nodes")
    left, right = upstreams
    # no broadcast unless asked, unlike enrich_join: neither upstream is
    # known to be the small dimension side
    return enrich_join(left, right, on=opts["on"], **_kwargs(opts, "how"),
                       broadcast_dim=opts.get("broadcast", False))


operator_node(
    "CorpusReport", "metalpipe_spark.operators.text.corpus_report",
    optional=("exact_distinct",),
    renamed={"text_col": "text_column", "id_col": "id_column",
             "lang_col": "lang_column", "source_col": "source_column"},
)


@node_class("BM25TopK")
def _bm25_topk_node(spark, upstreams, opts):
    """BM25 keyword retrieval over the upstream corpus (operators/
    text.py:bm25_topk); ``terms`` is the query bag."""
    from metalpipe_spark.operators.text import bm25_topk

    kw = _kwargs(opts, "k", text_col="text_column", id_col="id_column")
    return bm25_topk(_one(upstreams, "BM25TopK"), list(opts["terms"]), **_cast(kw, k=int))


@node_class("BM25Batch")
def _bm25_batch_node(spark, upstreams, opts):
    """Batched BM25 (operators/retrieval.py): upstream order is
    (corpus, queries); queries carry (query_id, terms array<string>)."""
    from metalpipe_spark.operators.retrieval import bm25_topk_batch

    if len(upstreams) != 2:
        raise ValueError("BM25Batch requires exactly (corpus, queries) upstreams")
    corpus, queries = upstreams
    kw = _kwargs(opts, "k", text_col="text_column", id_col="id_column")
    return bm25_topk_batch(corpus, queries, **_cast(kw, k=int))


@node_class("RRFFuse")
def _rrf_fuse_node(spark, upstreams, opts):
    """Reciprocal-rank fusion of two or more upstream rank lists
    (operators/retrieval.py:rrf_fuse).  ``sources`` names the upstreams
    in edge order (the fold order is by sorted name — fix the names to
    fix the arithmetic); defaults to src0, src1, …"""
    from metalpipe_spark.operators.retrieval import rrf_fuse

    if len(upstreams) < 2:
        raise ValueError("RRFFuse requires at least two upstream rank lists")
    names = opts.get("sources") or [f"src{i}" for i in range(len(upstreams))]
    if len(names) != len(upstreams):
        raise ValueError(
            f"RRFFuse: {len(upstreams)} upstream(s) but {len(names)} source name(s)"
        )
    kw = _kwargs(opts, "k", "c", id_col="id_column")
    return rrf_fuse(dict(zip(names, upstreams)), **_cast(kw, k=int, c=int))


@node_class("SQLExecute")
def _sql_execute(spark, upstreams, opts):
    """CivisSQLExecute / CivisToCSV (civis_nodes.py:374-482) — "run SQL,
    emit the result rows" — engine-native: upstream DataFrames register as
    temp views named by ``views`` (in upstream order), then ``sql`` runs
    through Catalyst.  Against a warehouse use the JDBC readers; this node
    is the in-engine SQL entry path (full pushdown/pruning, no collect)."""
    names = opts.get("views", [])
    if len(names) != len(upstreams):
        raise ValueError(
            f"SQLExecute: {len(upstreams)} upstream(s) but {len(names)} view name(s)"
        )
    for name, df in zip(names, upstreams):
        df.createOrReplaceTempView(name)
    return spark.sql(opts["sql"])


@node_class("FunctionOfMessage")
def _fn_of_message(spark, upstreams, opts):
    """node.py:996-1013 — named function applied per record; compiled to a
    typed UDF column rather than a whole-row Python pass."""
    df = _one(upstreams, "FunctionOfMessage")
    fn = wrap_udf(opts["function"], **_kwargs(opts, "return_type", "mode"))
    cols = [opts["key"]] if "key" in opts else df.columns
    return df.withColumn(opts.get("output_key", "result"), fn(*cols))


# -- streaming sources ------------------------------------------------------


# node.py:1500-1525 — directory poller as the Structured Streaming file
# source (checkpointed discovery instead of mtime polling).
operator_node(
    "LocalDirectoryWatchdog", "metalpipe_spark.streaming.streams.file_watchdog",
    required=("directory", "schema"), optional=("max_files_per_trigger",),
    renamed={"fmt": "format"}, source=True,
)


@node_class("WETStream")
def _wet_stream(spark, upstreams, opts):
    """Continuously-arriving WET crawl segments as a stream
    (sources/warc.py:stream_wet) — chain the streaming corpus pipeline
    behind it."""
    from metalpipe_spark.sources.warc import stream_wet

    kw = _kwargs(opts, "warc_version", "record_types", "glob", "max_files_per_trigger")
    return stream_wet(spark, opts["directory"], **_cast(kw, warc_version=str, record_types=_tuple))


@node_class("TimeWindowAccumulator")
def _time_window(spark, upstreams, opts):
    """node.py:1453-1460 (stub in the reference) — tumbling event-time
    window with configurable aggregates."""
    from pyspark.sql import functions as FF

    from metalpipe_spark.streaming.streams import tumbling_window

    df = _one(upstreams, "TimeWindowAccumulator")
    aggs = []
    for spec in opts.get("aggregates", [{"fn": "count", "column": "*", "alias": "n"}]):
        fn = getattr(FF, spec["fn"])
        col = FF.lit(1) if spec.get("column", "*") == "*" else FF.col(spec["column"])
        aggs.append(fn(col).alias(spec.get("alias", spec["fn"])))
    return tumbling_window(
        df, opts["ts_col"], opts["window"], aggs, **_kwargs(opts, "watermark", "group_by")
    )


@node_class("StreamingJoin")
def _streaming_join(spark, upstreams, opts):
    """node.py:1528-1552 — the reference's stub completed: watermarked
    stream-stream equi-join within a time window."""
    from metalpipe_spark.streaming.streams import streaming_join

    if len(upstreams) != 2:
        raise ValueError("StreamingJoin requires exactly two upstream nodes")
    left, right = upstreams
    return streaming_join(
        left,
        right,
        on=opts["on"],
        left_ts=opts["left_ts"],
        right_ts=opts["right_ts"],
        **_kwargs(opts, "window", "watermark", "how"),
    )


# -- sinks ------------------------------------------------------------------


@node_class("PrinterOfThings")
def _printer(spark, upstreams, opts):
    return _one(upstreams, "PrinterOfThings")  # action happens at run()


@node_class("BlackHole")
def _blackhole(spark, upstreams, opts):
    return _one(upstreams, "BlackHole")


@node_class("Blocker")
def _blocker(spark, upstreams, opts):
    """node.py:1720-1728 — swallows every message and forwards only the
    termination signal once its input completes.  Batch analog: force the
    upstream's computation HERE (the barrier — an eager count at compile,
    mirroring the reference's do-nothing drain), then emit a zero-row
    frame with the upstream schema so downstream nodes compile against
    real types but receive no data rows."""
    df = _one(upstreams, "Blocker")
    if df.isStreaming:
        raise ValueError(
            "Blocker is a batch barrier; streaming paths end via query lifecycle"
        )
    df.count()
    return df.limit(0)


# -- training-data curation nodes (beyond the reference; COVERAGE.md) -------


operator_node(
    "ScrubPII", "metalpipe_spark.operators.text.scrub_pii", optional=("text_col", "out_col"),
)


@node_class("DetectLanguage")
def _detect_language(spark, upstreams, opts):
    from metalpipe_spark.operators.text import detect_language

    df = _one(upstreams, "DetectLanguage")
    return df.withColumn(
        opts.get("output_col", "lang_detected"),
        detect_language(opts.get("text_col", "text")),
    )


@node_class("DetectLanguageModel")
def _detect_language_model_node(spark, upstreams, opts):
    """Trained hashed-softmax language ID (pinned weights by default;
    pass classes/weights/biases to serve a custom model)."""
    from metalpipe_spark.operators.langid import detect_language_model

    df = _one(upstreams, "DetectLanguageModel")
    return df.withColumn(
        opts.get("output_key", "lang_pred"),
        detect_language_model(
            opts.get("text_key", "text"),
            **_kwargs(opts, "classes", "weights", "biases", "script_weights"),
        ),
    )


@node_class("QualityScore")
def _quality_score(spark, upstreams, opts):
    from metalpipe_spark.operators.text import quality_score

    df = _one(upstreams, "QualityScore")
    return df.withColumn(
        opts.get("output_col", "quality"),
        quality_score(opts.get("text_col", "text")),
    )


@node_class("ExactDedup")
def _exact_dedup_node(spark, upstreams, opts):
    """Keep the full rows of the canonical (lowest-id) document per
    normalized-text fingerprint (left_semi against the keeper set)."""
    from metalpipe_spark.operators.dedup import exact_dedup

    df = _one(upstreams, "ExactDedup")
    id_col = opts.get("id_col", "doc_id")
    keep = exact_dedup(df, id_col=id_col, **_kwargs(opts, "text_col"))
    return df.join(keep, id_col, "left_semi")


@node_class("NearDupDedup")
def _near_dup_dedup_node(spark, upstreams, opts):
    from metalpipe_spark.operators.dedup import dedup_corpus, minhash_lsh_pairs

    df = _one(upstreams, "NearDupDedup")
    threshold = opts.get("threshold", 0.5)
    pairs = minhash_lsh_pairs(
        df,
        # hash: xxhash64 is the production knob (1.3-1.4x measured on
        # the minhash family); md5 stays the portable default.
        **_kwargs(opts, "text_col", "id_col", "num_hashes", "hash"),
        # 8 bands of 2 rows, not minhash_lsh_pairs' 4 of 4: the S-curve
        # knee (~0.35) sits below the default 0.5 est_jaccard cut
        bands=opts.get("bands", 8),
        # auto_bands: let the S-curve tuner size the banding for the
        # SAME threshold the est_jaccard cut uses (tune_lsh_bands)
        threshold=threshold if opts.get("auto_bands") else None,
    ).where(F.col("est_jaccard") >= threshold)
    return dedup_corpus(df, pairs, **_kwargs(opts, "id_col"))


# Exact duplicated-substring removal (Lee et al. 2022 ExactSubstr semantics).
operator_node(
    "ExactSubstrDedup", "metalpipe_spark.operators.dedup.exact_substr_dedup",
    optional=("text_col", "id_col", "min_length", "hash"),
)


@node_class("IncrementalExactSubstr")
def _incremental_exact_substr_node(spark, upstreams, opts):
    """Incremental ExactSubstr against a persisted window store: one
    upstream = first build, two ordered upstreams = [batch, store].
    Emits the cleaned batch; the updated store is exposed via
    ``store_view`` for a downstream sink (the IncrementalEmbed
    pattern)."""
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    if len(upstreams) not in (1, 2):
        raise ValueError(
            "IncrementalExactSubstr takes [batch] or [batch, store]"
            " upstreams"
        )
    clean, store = incremental_exact_substr(
        upstreams[0],
        upstreams[1] if len(upstreams) == 2 else None,
        **_kwargs(opts, "text_col", "id_col", "min_length", "hash"),
    )
    if opts.get("store_view"):
        store.createOrReplaceTempView(opts["store_view"])
    return clean


operator_node(
    "ChunkDocuments", "metalpipe_spark.operators.text.chunk_documents",
    optional=("text_col", "id_col", "chunk_tokens", "overlap"),
)
operator_node(
    "StratifiedSample", "metalpipe_spark.operators.curation.stratified_sample",
    required=("strata_col", "fractions", "key_col"), optional=("default_fraction",),
)
operator_node(
    "TopKPerGroup", "metalpipe_spark.operators.curation.topk_per_group",
    required=("group_col", "order_col", "k"), optional=("tie_col", "descending"),
)


@node_class("QualityFilter")
def _quality_filter_node(spark, upstreams, opts):
    """Gopher-style composite filter; ``keep_only=True`` (default) drops
    failing docs, else annotates with keep/drop_reason."""
    from metalpipe_spark.operators.text import quality_filter

    df = _one(upstreams, "QualityFilter")
    id_col = opts.get("id_col", "doc_id")
    verdicts = quality_filter(df, id_col=id_col, **_kwargs(opts, "text_col"))
    if opts.get("keep_only", True):
        keepers = verdicts.where(F.col("keep")).select(id_col)
        return df.join(keepers, id_col, "left_semi")
    return df.join(verdicts, id_col)


operator_node(
    "ParagraphDedup", "metalpipe_spark.operators.dedup.chunk_level_dedup",
    optional=("text_col", "id_col", "chunk_tokens"),
)
# ``model`` is a spec string: the built-in deterministic fixture is
# ``hashed-projection:{dim}[:{salt}]``; real encoders plug in via
# register_embedding_model.
operator_node(
    "EmbedDocuments", "metalpipe_spark.operators.inference.embed_documents",
    optional=("text_col", "model", "output_col", "batch_size", "max_concurrent"),
)


@node_class("IncrementalEmbed")
def _incremental_embed_node(spark, upstreams, opts):
    """Fingerprint-incremental embedding: one upstream = first build
    (no store), two ordered upstreams = [batch, store].  Emits the
    updated store; the fresh slice is exposed via ``fresh_view`` for a
    downstream SQLExecute node (the Decontaminate report pattern)."""
    from metalpipe_spark.operators.inference import incremental_embed

    if len(upstreams) not in (1, 2):
        raise ValueError(
            "IncrementalEmbed takes [batch] or [batch, store] upstreams"
        )
    batch = upstreams[0]
    store = upstreams[1] if len(upstreams) == 2 else None
    fresh, updated = incremental_embed(
        batch,
        store,
        **_kwargs(opts, "text_col", "id_col", "model", "batch_size", "max_concurrent"),
    )
    if opts.get("fresh_view"):
        fresh.createOrReplaceTempView(opts["fresh_view"])
    return updated


@node_class("Decontaminate")
def _decontaminate_node(spark, upstreams, opts):
    """Two ordered upstreams: [corpus, benchmark].  Emits the clean
    corpus; the report is exposed via ``report_view`` (a temp view) for
    a downstream SQLExecute node.

    ``method: bloom`` swaps the exact broadcast-shingle-index for the
    Bloom-mask probe (operators/sketches.bloom_decontaminate) — fixed
    kilobyte broadcast instead of the benchmark's full shingle strings,
    one-sided false positives; knobs ``m_bits``/``k``/``min_hits`` and
    the production ``hash: xxhash64`` (probes measured 1.93x at sf1)
    apply to it.  The exact method hashes nothing (raw shingle join),
    so ``hash`` with ``method: exact`` is rejected rather than
    ignored."""
    method = opts.get("method", "exact")
    if len(upstreams) != 2:
        raise ValueError("Decontaminate requires [corpus, benchmark] upstreams")
    corpus, benchmark = upstreams
    kw = _kwargs(opts, "text_col", "id_col", "n")
    if method == "bloom":
        from metalpipe_spark.operators.sketches import bloom_decontaminate

        clean, report = bloom_decontaminate(
            corpus, benchmark, **kw, **_kwargs(opts, "m_bits", "k", "min_hits", "hash")
        )
    elif method == "exact":
        from metalpipe_spark.operators.dedup import decontaminate

        if "hash" in opts:
            raise ValueError(
                "Decontaminate(method=exact) joins raw shingles and "
                "hashes nothing — the hash option only applies to "
                "method: bloom"
            )
        clean, report = decontaminate(corpus, benchmark, **kw, **_kwargs(opts, "min_shared"))
    else:
        raise ValueError(
            f"Decontaminate method must be 'exact' or 'bloom', got {method!r}"
        )
    if opts.get("report_view"):
        report.createOrReplaceTempView(opts["report_view"])
    return clean


operator_node(
    "PackShards", "metalpipe_spark.operators.curation.pack_shards",
    required=("weight_col", "order_col", "shard_budget"),
)
operator_node(
    "BoilerplateRemoval", "metalpipe_spark.operators.dedup.boilerplate_chunk_removal",
    optional=("text_col", "id_col", "chunk_tokens", "min_df"),
)


@node_class("KeepBestDedup")
def _keep_best_dedup_node(spark, upstreams, opts):
    """Two ordered upstreams: [docs, cluster assignments].  Keeps the
    highest-``score_col`` member per cluster (q_dedup_keep_best)."""
    from metalpipe_spark.operators.dedup import dedup_corpus_keep_best

    if len(upstreams) != 2:
        raise ValueError("KeepBestDedup requires [docs, assignments] upstreams")
    docs, assignments = upstreams
    return dedup_corpus_keep_best(
        docs, assignments, score_col=opts["score_col"], **_kwargs(opts, "id_col", "cluster_col")
    )


@node_class("VocabCoverage")
def _vocab_coverage_node(spark, upstreams, opts):
    """Per-document OOV stats against the corpus top-k vocabulary
    (q_vocab_coverage); one upstream = self-vocabulary, two = probe the
    first against a vocabulary built from the second."""
    from metalpipe_spark.operators.text import build_vocabulary, oov_rate

    if len(upstreams) == 1:
        docs = vocab_src = upstreams[0]
    elif len(upstreams) == 2:
        docs, vocab_src = upstreams
    else:
        raise ValueError("VocabCoverage takes [docs] or [docs, vocab_corpus]")
    vocab = build_vocabulary(
        vocab_src, **_cast(_kwargs(opts, "text_col", "vocab_size"), vocab_size=int)
    )
    return oov_rate(docs, vocab, **_kwargs(opts, "text_col", "id_col"))


@node_class("LeakageFreeSplit")
def _leakage_free_split_node(spark, upstreams, opts):
    """Two ordered upstreams: [docs, cluster assignments] — split on the
    cluster representative so near-dups never straddle a boundary
    (q_leakage_free_split)."""
    from metalpipe_spark.operators.curation import leakage_free_split

    if len(upstreams) != 2:
        raise ValueError("LeakageFreeSplit requires [docs, assignments] upstreams")
    docs, assignments = upstreams
    return leakage_free_split(
        docs,
        assignments,
        fractions=opts["fractions"],
        **_kwargs(opts, "id_col", "cluster_col", "split_col", "salt"),
    )


operator_node(
    "TokenBudgetSample", "metalpipe_spark.operators.curation.token_budget_sample",
    required=("weight_col", "order_col", "budget"),
)
# Pivot with pinned values as ONE conditional aggregate — never the
# double-aggregate .pivot() plan (q_pivot_orders).
operator_node(
    "PivotPinned", "metalpipe_spark.operators.aggregate.pivot_pinned",
    required=("group_cols", "pivot_col", "values", "agg_col"), optional=("agg", "out_names"),
)
operator_node(
    "NormalizedDedup", "metalpipe_spark.operators.text.normalized_dedup",
    optional=("text_col", "id_col"),
)


@node_class("ExtractHost")
def _extract_host_node(spark, upstreams, opts):
    """Append the lower-cased (www-folded) host of a URL column."""
    from metalpipe_spark.operators.web import extract_host

    df = _one(upstreams, "ExtractHost")
    return df.withColumn(
        opts.get("output_key", "host"),
        extract_host(opts.get("url_key", "url"), **_kwargs(opts, "strip_www")),
    )


@node_class("URLNormalize")
def _url_normalize_node(spark, upstreams, opts):
    """Append (or replace with) the canonical form of a URL column."""
    from metalpipe_spark.operators.web import url_normalize

    df = _one(upstreams, "URLNormalize")
    return df.withColumn(
        opts.get("output_key", "url_norm"),
        url_normalize(opts.get("url_key", "url"), **_kwargs(opts, "strip_www")),
    )


operator_node(
    "DomainStats", "metalpipe_spark.operators.web.domain_stats",
    optional=("strip_www",), renamed={"url_col": "url_key", "size_col": "size_key"},
)
operator_node(
    "HostFilter", "metalpipe_spark.operators.web.host_filter",
    optional=("allowlist", "blacklist", "strip_www"), renamed={"url_col": "url_key"},
)
operator_node(
    "URLDedup", "metalpipe_spark.operators.web.url_dedup",
    optional=("strip_www",), renamed={"url_col": "url_key", "id_col": "id_key"},
)
# PageRank over a host-link graph — upstream rows are edges (src/dst host
# columns); set ``fixed_point_scale`` for bit-reproducible ranks.
operator_node(
    "HostRank", "metalpipe_spark.operators.web.host_rank",
    optional=("src", "dst", "damping", "iterations", "fixed_point_scale"),
)
operator_node(
    "TrainBPE", "metalpipe_spark.operators.bpe.train_bpe",
    optional=("num_merges", "min_pair_count"), renamed={"text_col": "text_column"},
)


@node_class("BPEEncode")
def _bpe_encode_node(spark, upstreams, opts):
    """Encode the corpus with a merge table: either ``merges`` inline
    ([[left, right], ...]) or a second upstream (TrainBPE output)."""
    from metalpipe_spark.operators.bpe import bpe_encode

    merges = opts.get("merges")
    if merges is not None:
        corpus = _one(upstreams, "BPEEncode")
        merges = [tuple(m) for m in merges]
    else:
        if len(upstreams) != 2:
            raise ValueError(
                "BPEEncode needs `merges` inline or exactly two "
                "upstreams (corpus, TrainBPE table)"
            )
        tables = [u for u in upstreams if {"rank", "left", "right"} <= set(u.columns)]
        if len(tables) != 1:
            raise ValueError("BPEEncode: exactly one upstream must be a merge table")
        merges = tables[0]
        corpus = next(u for u in upstreams if u is not merges)
    return bpe_encode(
        corpus, merges, **_kwargs(opts, text_col="text_column", id_col="id_column")
    )


operator_node(
    "TrainUnigram", "metalpipe_spark.operators.unigram.train_unigram",
    optional=("vocab_size", "max_piece_len", "em_iters"), renamed={"text_col": "text_column"},
)


@node_class("UnigramEncode")
def _unigram_encode_node(spark, upstreams, opts):
    """Viterbi-encode the corpus: ``pieces`` inline ({piece: logprob})
    or a second upstream (TrainUnigram output)."""
    from metalpipe_spark.operators.unigram import unigram_encode

    pieces = opts.get("pieces")
    if pieces is not None:
        corpus = _one(upstreams, "UnigramEncode")
    else:
        if len(upstreams) != 2:
            raise ValueError(
                "UnigramEncode needs `pieces` inline or exactly two "
                "upstreams (corpus, TrainUnigram table)"
            )
        tables = [u for u in upstreams if {"piece", "logprob"} <= set(u.columns)]
        if len(tables) != 1:
            raise ValueError("UnigramEncode: exactly one upstream must be a piece table")
        pieces = tables[0]
        corpus = next(u for u in upstreams if u is not pieces)
    return unigram_encode(
        corpus, pieces, **_kwargs(opts, text_col="text_column", id_col="id_column")
    )


# robots.txt bodies -> RFC 9309 rule table for one user-agent; upstream
# rows carry host + body.
operator_node(
    "ParseRobots", "metalpipe_spark.operators.web.parse_robots",
    optional=("agent",), renamed={"host_col": "host_key", "body_col": "body_key"},
)


@node_class("ParseSitemap")
def _parse_sitemap_node(spark, upstreams, opts):
    """sitemap.xml bodies -> frontier rows (kind/url/lastmod), urlset
    and sitemapindex both handled (operators/web.py:parse_sitemap)."""
    from metalpipe_spark.operators.web import parse_sitemap

    out = parse_sitemap(
        _one(upstreams, "ParseSitemap"), **_kwargs(opts, body_col="body_key")
    )
    if opts.get("urls_only"):
        out = out.where(F.col("kind") == "url")
    return out


@node_class("RobotsFilter")
def _robots_filter_node(spark, upstreams, opts):
    """Crawl-politeness filter: first upstream is the URL frontier,
    second the ParseRobots rule table (broadcast; the frontier never
    shuffles).  ``keep: all`` annotates with crawl_allowed instead of
    filtering."""
    from metalpipe_spark.operators.web import robots_filter

    if len(upstreams) != 2:
        raise ValueError(
            "RobotsFilter requires exactly two upstream nodes "
            "(frontier, rules)"
        )
    # Upstream order follows YAML path declaration order — identify the
    # ParseRobots table by its schema instead of by position.
    rule_cols = {"host", "rule", "prefix", "wild", "pattern"}
    is_rules = [rule_cols.issubset(set(u.columns)) for u in upstreams]
    if is_rules == [True, False]:
        rules, frontier = upstreams
    elif is_rules == [False, True]:
        frontier, rules = upstreams
    else:
        raise ValueError(
            "RobotsFilter: exactly one upstream must be a ParseRobots "
            f"rule table (host/rule/prefix/wild/pattern); got {is_rules}"
        )
    return robots_filter(
        frontier, rules, **_kwargs(opts, "keep", "strip_www", url_col="url_key")
    )


@node_class("HistogramQuantiles")
def _histogram_quantiles_node(spark, upstreams, opts):
    """Deterministic histogram-sketch quantiles per group
    (operators/sketches.py:histogram_sketch_quantiles)."""
    from metalpipe_spark.operators.sketches import histogram_sketch_quantiles

    kw = _kwargs(opts, "qs", "bins", "scale", group_cols="group_by")
    return histogram_sketch_quantiles(
        _one(upstreams, "HistogramQuantiles"),
        opts["column"],
        lo=opts["lo"],
        hi=opts["hi"],
        **_cast(kw, qs=tuple),
    )


@node_class("ModelQualityFilter")
def _model_quality_filter_node(spark, upstreams, opts):
    """Hashed-feature linear classifier filter; ``keep_only=True``
    (default) drops failing docs, else annotates logit/keep."""
    from metalpipe_spark.operators.text import model_quality_filter

    df = _one(upstreams, "ModelQualityFilter")
    out = model_quality_filter(
        df, weights=opts["weights"], **_kwargs(opts, "threshold", "text_col", "bias")
    )
    if opts.get("keep_only", True):
        return out.where(F.col("keep")).drop("logit", "keep")
    return out


@node_class("DSIRWeights")
def _dsir_weights_node(spark, upstreams, opts):
    """DSIR importance weights (q_dsir_weights): two ordered upstreams
    [corpus, target]; per-doc hashed-ngram log importance."""
    from metalpipe_spark.operators.curation import dsir_importance_weights

    if len(upstreams) != 2:
        raise ValueError("DSIRWeights requires [corpus, target] upstreams")
    corpus, target = upstreams
    return dsir_importance_weights(
        corpus,
        target,
        **_kwargs(opts, "text_col", "id_col", "buckets", "smoothing", "exact"),
    )


@node_class("DSIRSample")
def _dsir_sample_node(spark, upstreams, opts):
    """Deterministic DSIR top-k selection (q_dsir_sample): two ordered
    upstreams [corpus, weights]."""
    from metalpipe_spark.operators.curation import dsir_topk_sample

    if len(upstreams) != 2:
        raise ValueError("DSIRSample requires [corpus, weights] upstreams")
    corpus, weights = upstreams
    return dsir_topk_sample(
        corpus,
        weights,
        k=opts["k"],
        **_kwargs(opts, "id_col", "weight_col", "temperature", "seed"),
    )


@node_class("CurriculumOrder")
def _curriculum_order_node(spark, upstreams, opts):
    """Quality/difficulty-banded training order
    (operators/curation.py:curriculum_order)."""
    from metalpipe_spark.operators.curation import curriculum_order

    kw = _kwargs(opts, "n_buckets", "seed", "ascending")
    return curriculum_order(
        _one(upstreams, "CurriculumOrder"),
        score_col=opts["score_col"],
        key_col=opts["key_col"],
        **_cast(kw, n_buckets=int, seed=int),
    )


@node_class("TemperatureEpochs")
def _temperature_epochs_node(spark, upstreams, opts):
    """Uncapped temperature rebalance with epoch repeats
    (operators/curation.py:temperature_resample_epochs)."""
    from metalpipe_spark.operators.curation import temperature_resample_epochs

    kw = _kwargs(opts, "alpha", "budget_frac", "budget_rows", "epoch_col")
    return temperature_resample_epochs(
        _one(upstreams, "TemperatureEpochs"),
        domain_col=opts["domain_col"],
        key_col=opts["key_col"],
        **_cast(kw, alpha=float),
    )


operator_node(
    "DomainMixSample", "metalpipe_spark.operators.curation.domain_mix_sample",
    required=("domain_col", "key_col", "weights"), optional=("budget_frac", "budget_rows"),
)
operator_node(
    "SplitCorpus", "metalpipe_spark.operators.curation.split_corpus",
    required=("key_col", "fractions"), optional=("split_col", "salt"),
)
operator_node(
    "GlobalShuffle", "metalpipe_spark.operators.curation.global_shuffle",
    required=("key_col",), optional=("seed",),
)


@node_class("SemanticDedup")
def _semantic_dedup_node(spark, upstreams, opts):
    """SemDeDup over an embedding column.

    CORPUS-SCALE USERS: set ``scaled: true`` (optionally with
    ``target_cell_size`` / ``fit_fraction`` / ``seed``) — that routes to
    :func:`semantic_dedup_scaled`, which sizes the cell count to the
    corpus (k = n / target_cell_size, sampled k-means fit, map-side
    assignment) so total work stays LINEAR in the input.  The
    fixed-centroid path below (:func:`semantic_dedup_gemm`) is the
    SQL-replayable oracle face: the per-cell comparison is quadratic in
    cell size, so a fixed centroid set turns 10x data into ~100x work
    (measured 38x growth on a 10x corpus, SCALING.md) — never point it
    at a real corpus.

    Fixed-centroid knobs: ``centroids`` inline, or
    ``num_centroids``/``dim`` for the deterministic set."""
    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        semantic_dedup_gemm,
        semantic_dedup_scaled,
    )

    df = _one(upstreams, "SemanticDedup")
    if opts.get("scaled") is False and "target_cell_size" in opts:
        # An EXPLICIT scaled: false alongside a scaled-only knob is a
        # contradiction — reject it like the centroid conflict below
        # rather than silently overriding what the user wrote.
        raise ValueError(
            "SemanticDedup: scaled: false contradicts target_cell_size "
            "(a scaled-path knob) — drop one"
        )
    scaled = opts.get("scaled", False) or "target_cell_size" in opts
    if scaled and (opts.get("centroids") or opts.get("num_centroids")):
        raise ValueError(
            "SemanticDedup: scaled mode sizes its own centroid count "
            "(k = n / target_cell_size) — drop centroids/num_centroids "
            "or drop scaled/target_cell_size"
        )
    kw = _kwargs(opts, "threshold", "vec_col", "id_col")
    if scaled:
        return semantic_dedup_scaled(
            df, **kw, **_kwargs(opts, "target_cell_size", "fit_fraction", "seed")
        )
    cents = opts.get("centroids") or deterministic_centroids(
        opts.get("num_centroids", 8), opts.get("dim", 64)
    )
    return semantic_dedup_gemm(df, cents, **kw)


@node_class("TrainingShardWriter")
def _training_shard_writer_node(spark, upstreams, opts):
    from metalpipe_spark.sinks.writers import write_training_shards

    df = _one(upstreams, "TrainingShardWriter")
    write_training_shards(
        df,
        path=opts["path"],
        key_col=opts["key_col"],
        num_shards=opts["num_shards"],
        **_kwargs(opts, "seed", "max_records_per_file"),
    )
    return df


@node_class("ParquetWriter")
def _parquet_writer(spark, upstreams, opts):
    df = _one(upstreams, "ParquetWriter")
    writer = df.write.mode(opts.get("mode", "overwrite"))
    if "partition_by" in opts:
        writer = writer.partitionBy(*opts["partition_by"])
    writer.parquet(opts["path"])
    return df


@node_class("WETWriter")
def _wet_writer(spark, upstreams, opts):
    """Export (url, text) rows as spec-framed .wet.gz shards
    (sources/warc.py:write_wet) — the interchange format every other
    Common Crawl consumer reads."""
    from metalpipe_spark.sources.warc import write_wet

    df = _one(upstreams, "WETWriter")
    kw = _kwargs(opts, "url", "text", "date", "warc_version", "compression")
    write_wet(df, opts["path"], **_cast(kw, warc_version=str))
    return df


# ---------------------------------------------------------------------------
# Config phases: template → secrets → parse → compile


def render_template(text: str, variables: Mapping[str, Any] | None = None) -> str:
    """bin/metalpipe:46-74 — jinja2 render where every undeclared variable
    is an evaluator: a dotted path imported and called with no args, else
    an environment variable."""
    try:
        import jinja2
        from jinja2 import meta
    except ImportError:  # pragma: no cover - jinja2 is available in CI
        return text

    env = jinja2.Environment()
    ast = env.parse(text)
    names = meta.find_undeclared_variables(ast)
    ctx = dict(variables or {})
    for name in names:
        if name in ctx:
            continue
        if "__" in name:
            # The reference's evaluator form (bin/metalpipe:62-72):
            # jinja identifiers cannot contain '.', so dotted function
            # paths are written with '__' as the module separator and
            # the function is imported and called with no args.  (A
            # branch keyed on '.' in the name is dead code — jinja's
            # undeclared-variable names are plain identifiers.)
            ctx[name] = load_function(name.replace("__", "."))()
        elif name in os.environ:
            ctx[name] = os.environ[name]
        else:
            raise ValueError(f"unresolved template variable: {name!r}")
    return env.from_string(text).render(**ctx)


def apply_secrets(config: Any, secrets: Mapping[str, Any]) -> Any:
    """bin/metalpipe:23-37 (seek_and_replace) — replace token strings with
    secret values everywhere in the config tree."""
    if isinstance(config, str):
        return secrets.get(config, config)
    if isinstance(config, Mapping):
        return {k: apply_secrets(v, secrets) for k, v in config.items()}
    if isinstance(config, list):
        return [apply_secrets(v, secrets) for v in config]
    return config


def apply_break_test(df: DataFrame, spec: Mapping[str, Any]) -> DataFrame:
    """Universal ``break_test`` node option (node.py:183,208-211,477-486):
    the reference loads a dotted-path predicate, yields each output
    message, then stops the node once the predicate fires.  Batch analog:
    keep rows up to AND INCLUDING the first row (in ``order_by`` order)
    whose predicate is true — the triggering message is emitted before the
    break, exactly as the reference yields-then-tests.

    Spec: ``{function: dotted.path, order_by: col, key: col?}`` —
    ``order_by`` is required because a DataFrame has no arrival order (the
    thread-per-node stream did).  Plan shape: one 1-row min-aggregate of
    the triggering order values, broadcast back as a scalar bound — no
    global sort, no single-partition window.
    """
    if not isinstance(spec, Mapping) or "function" not in spec or "order_by" not in spec:
        raise ValueError(
            "break_test needs {function: dotted.path, order_by: column} — "
            "batch compilation requires an explicit message order"
        )
    fn = wrap_udf(spec["function"], "boolean", mode=spec.get("mode", "pandas"))
    cols = [spec["key"]] if "key" in spec else df.columns
    ord_col = F.col(spec["order_by"])
    flagged = df.withColumn("__bt", fn(*[F.col(c) for c in cols]))
    stop = flagged.filter(F.col("__bt")).agg(F.min(ord_col).alias("__stop"))
    return (
        flagged.crossJoin(F.broadcast(stop))
        .filter(F.col("__stop").isNull() | (ord_col <= F.col("__stop")))
        .drop("__bt", "__stop")
    )


def _rename_all(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    for src, tgt in mapping.items():
        df = df.withColumnRenamed(src, tgt)
    return df


def _edges(config: Mapping[str, Any]) -> list[tuple[str, str]]:
    edges: list[tuple[str, str]] = []
    for path in config.get("paths", []) or []:
        edges += list(zip(path, path[1:]))
    for e in config.get("edges", []) or []:
        if isinstance(e, Mapping):
            # reference vocabulary is source/target (bin/metalpipe:98-99);
            # from/to kept as this engine's alias.
            if "source" in e:
                edges.append((e["source"], e["target"]))
            else:
                edges.append((e["from"], e["to"]))
        else:
            edges.append(tuple(e))
    return edges


@dataclass
class CompiledPipeline:
    """The compiled DataFrame DAG: every node's DataFrame plus the
    terminals (nodes with no downstream edge)."""

    dataframes: dict[str, DataFrame]
    terminals: list[str]
    specs: dict[str, NodeSpec]

    def terminal_frames(self) -> dict[str, DataFrame]:
        return {t: self.dataframes[t] for t in self.terminals}


def compile_pipeline(
    spark: SparkSession,
    config: Mapping[str, Any],
    capture_dir: str | None = None,
) -> CompiledPipeline:
    """Build every node's DataFrame in topological order.

    ``capture_dir`` is the record/replay fixturizer hook
    (/root/reference/metalpipe/utils/metalpipe_recorder.py:7-45, which
    recorded every node's messages to Redis): each batch node's output is
    written to ``{capture_dir}/{node_name}`` as parquet at compile time;
    :func:`replay_capture` reads one back.  Streaming nodes are skipped
    (capture their sinks via checkpointed output instead)."""
    nodes = {
        name: NodeSpec(name=name, cls=spec["class"], options=spec.get("options", {}) or {})
        for name, spec in config["nodes"].items()
    }
    edges = _edges(config)
    for a, b in edges:
        for n in (a, b):
            if n not in nodes:
                raise ValueError(f"edge references unknown node {n!r}")

    upstreams: dict[str, list[str]] = {n: [] for n in nodes}
    downstream_count: dict[str, int] = {n: 0 for n in nodes}
    for a, b in edges:
        upstreams[b].append(a)
        downstream_count[a] += 1

    built: dict[str, DataFrame] = {}
    remaining = set(nodes)
    while remaining:
        progressed = False
        for name in sorted(remaining):
            if all(u in built for u in upstreams[name]):
                spec = nodes[name]
                if spec.cls not in NODE_CLASSES:
                    raise ValueError(f"unknown node class {spec.cls!r} for node {name!r}")
                # Universal node options (every reference node supports
                # them): input_mapping renames on ingest (node.py:148-150),
                # post_process_function applies at a keypath of each
                # output (node.py:227-255).
                opts = dict(spec.options)
                input_mapping = opts.pop("input_mapping", None)
                post_fn = opts.pop("post_process_function", None)
                post_keypath = opts.pop("post_process_keypath", None)
                post_rt = opts.pop("post_process_return_type", "string")
                break_spec = opts.pop("break_test", None)
                # max_messages_received (node.py:170,445-450): the node
                # stops CONSUMING after N messages — an INPUT bound, so
                # it limits each upstream BEFORE the node runs (limiting
                # the output instead silently changes aggregating nodes:
                # a collect_list over ALL rows limited to N output rows
                # is not an aggregate over the first N inputs).  With
                # several upstreams the reference counts N TOTAL arrivals
                # in interleaved order (node.py:445-450); batch has no
                # arrival order, so the sequential-exhaustion
                # interleaving (a valid arrival order: drain upstream 0,
                # then 1, ... until N consumed) is realized — never more
                # than N rows total.  Source nodes (no upstreams) bound their own
                # emission.  throttle (node.py:142,167,452-453) is a
                # per-message sleep — meaningless under Spark's
                # pull-based batch execution, so it is accepted
                # (reference configs compile unchanged) and ignored; a
                # streaming deployment controls cadence with trigger
                # intervals instead.
                max_messages = opts.pop("max_messages_received", None)
                opts.pop("throttle", None)
                ups = [built[u] for u in upstreams[name]]
                if max_messages is not None and ups:
                    if any(u.isStreaming for u in ups):
                        raise ValueError(
                            f"node {name!r}: max_messages_received is a "
                            "batch option (a streaming node bounds work "
                            "with availableNow/maxFilesPerTrigger)"
                        )
                    if len(ups) == 1:
                        ups = [ups[0].limit(int(max_messages))]
                    else:
                        budget = int(max_messages)
                        limited = []
                        for u in ups:
                            u = u.limit(budget)
                            if budget > 0:
                                budget -= u.count()
                            limited.append(u)
                        ups = limited
                if input_mapping:
                    ups = [
                        _rename_all(u, input_mapping) for u in ups
                    ]
                df = NODE_CLASSES[spec.cls](spark, ups, opts)
                if df is None:
                    raise ValueError(f"node {name!r} produced no DataFrame")
                if post_fn:
                    if post_keypath is None:
                        raise ValueError(
                            f"node {name!r}: post_process_function needs "
                            "post_process_keypath (which column/keypath "
                            "the function rewrites)"
                        )
                    from metalpipe_spark.keypath import get_value, set_value

                    fn = wrap_udf(post_fn, post_rt)
                    df = set_value(df, post_keypath, fn(get_value(post_keypath)))
                if break_spec:
                    df = apply_break_test(df, break_spec)
                if max_messages is not None and not upstreams[name]:
                    # Source node: its "messages" are what it emits.
                    if df.isStreaming:
                        raise ValueError(
                            f"node {name!r}: max_messages_received is a "
                            "batch option (a streaming node bounds work "
                            "with availableNow/maxFilesPerTrigger)"
                        )
                    df = df.limit(int(max_messages))
                if capture_dir is not None and not df.isStreaming:
                    df.write.mode("overwrite").parquet(
                        os.path.join(capture_dir, name)
                    )
                built[name] = df
                remaining.discard(name)
                progressed = True
                break
        if not progressed:
            raise ValueError(f"pipeline has a cycle among {sorted(remaining)}")

    terminals = [n for n in nodes if downstream_count[n] == 0]
    return CompiledPipeline(dataframes=built, terminals=terminals, specs=nodes)


def load_yaml_pipeline(
    spark: SparkSession,
    text: str,
    variables: Mapping[str, Any] | None = None,
    secrets_files: list[str] | None = None,
    capture_dir: str | None = None,
) -> CompiledPipeline:
    """Full reference entry path: template → secrets → parse → compile."""
    import yaml

    rendered = render_template(text, variables)
    config = yaml.safe_load(rendered)
    secret_map: dict[str, Any] = {}
    sf = secrets_files or config.get("secrets_files") or {}
    if isinstance(sf, Mapping):
        # Reference shape (bin/metalpipe:77-83): {cache_name: filename},
        # and config tokens are namespaced '{cache_name}.{key}'.
        for cache, path in sf.items():
            with open(path) as fh:
                for k, v in (yaml.safe_load(fh) or {}).items():
                    secret_map[f"{cache}.{k}"] = v
    else:
        # legacy list-of-paths shape with bare-key tokens
        for path in sf:
            with open(path) as fh:
                secret_map.update(yaml.safe_load(fh) or {})
    if secret_map:
        config = apply_secrets(config, secret_map)
    return compile_pipeline(spark, config, capture_dir=capture_dir)


def replay_capture(spark: SparkSession, capture_dir: str, name: str) -> DataFrame:
    """Replay one captured node's output (metalpipe_recorder.py:7-45's
    read side): the fixture parquet written by ``compile_pipeline``."""
    return spark.read.parquet(os.path.join(capture_dir, name))


def run_pipeline(pipeline: CompiledPipeline, show: bool = False) -> dict[str, int]:
    """Execute the terminal actions; returns row counts per terminal (the
    reference's monitor-table row counters, node.py:871-975)."""
    counts = {}
    for name, df in pipeline.terminal_frames().items():
        if df.isStreaming:
            raise ValueError(
                f"terminal node {name!r} is a streaming DataFrame; "
                "run_pipeline executes BATCH terminals only — wire "
                "streaming terminals through streaming/streams.py sinks "
                "(foreach_batch_sink / file sinks) instead of count()"
            )
        if show and pipeline.specs[name].cls == "PrinterOfThings":
            df.show(truncate=False)
        counts[name] = df.count()
    return counts
