"""YAML nodes against their operators called directly.

Each test compiles one node class from YAML over a tiny input, sets one
option away from its operator default, and checks the node's frame
holds the same rows as the operator called with that option."""

from __future__ import annotations

import pytest
import yaml

from metalpipe_spark.plans.pipeline import load_yaml_pipeline

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again", "en", "web", 0.9),
    (2, "a quick brown fox jumps over the lazy dog again and again today", "en", "books", 0.2),
    (3, "el perro come la comida en la casa grande", "es", "web", 0.5),
    (4, "the quick brown fox jumps over the lazy dog again and again", "en", "web", 0.7),
    (5, "der hund isst das essen im haus", "de", "wiki", 0.1),
    (6, "el perro come la comida en la casa pequena", "es", "books", 0.4),
]


@pytest.fixture
def docs(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string, score double"
    ).write.parquet(path)
    return path


def _node(spark, cls, options, upstream=None):
    """Compile ``upstream`` (a parquet path) -> one ``cls`` node from YAML
    text and return the node's frame."""
    nodes = {"node": {"class": cls, "options": options}}
    paths = []
    if upstream is not None:
        nodes["read"] = {"class": "ParquetReader", "options": {"path": upstream}}
        paths = [["read", "node"]]
    text = yaml.safe_dump({"nodes": nodes, "paths": paths})
    return load_yaml_pipeline(spark, text).dataframes["node"]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _same(got, want):
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_train_ngram_lm_yaml_node(spark, docs):
    from metalpipe_spark.operators.text import train_ngram_lm

    got = _node(spark, "TrainNgramLM", {"k": 0.5}, docs)
    _same(got, train_ngram_lm(spark.read.parquet(docs), k=0.5))


def test_prune_lm_yaml_node(spark, docs, tmp_path):
    from metalpipe_spark.operators.text import prune_lm, train_backoff_lm

    lm_path = str(tmp_path / "lm")
    train_backoff_lm(spark.read.parquet(docs), n=2).write.parquet(lm_path)
    lm = spark.read.parquet(lm_path)
    got = _node(spark, "PruneLM", {"min_counts": 2}, lm_path)
    want = prune_lm(lm, min_counts=2)
    _same(got, want)
    assert want.count() < lm.count()


def test_exact_substr_dedup_yaml_node(spark, docs):
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    got = _node(spark, "ExactSubstrDedup", {"min_length": 12}, docs)
    _same(got, exact_substr_dedup(spark.read.parquet(docs), min_length=12))


def test_incremental_exact_substr_yaml_node(spark, docs):
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    got = _node(
        spark, "IncrementalExactSubstr", {"min_length": 12, "store_view": "xs_yaml_store"}, docs
    )
    clean, store = incremental_exact_substr(spark.read.parquet(docs), None, min_length=12)
    _same(got, clean)
    _same(spark.table("xs_yaml_store"), store)


def test_incremental_embed_yaml_node(spark, docs):
    from metalpipe_spark.operators.inference import incremental_embed

    model = "hashed-projection:8"
    got = _node(
        spark, "IncrementalEmbed", {"model": model, "fresh_view": "embed_yaml_fresh"}, docs
    )
    fresh, updated = incremental_embed(spark.read.parquet(docs), None, model=model)
    _same(got, updated)
    _same(spark.table("embed_yaml_fresh"), fresh)


def test_curriculum_order_yaml_node(spark, docs):
    from metalpipe_spark.operators.curation import curriculum_order

    opts = {"score_col": "score", "key_col": "doc_id", "n_buckets": 2}
    got = _node(spark, "CurriculumOrder", opts, docs)
    _same(got, curriculum_order(spark.read.parquet(docs), **opts))


def test_temperature_epochs_yaml_node(spark, docs):
    from metalpipe_spark.operators.curation import temperature_resample_epochs

    opts = {"domain_col": "lang", "key_col": "doc_id", "budget_rows": 8, "alpha": 0.7}
    got = _node(spark, "TemperatureEpochs", opts, docs)
    _same(got, temperature_resample_epochs(spark.read.parquet(docs), **opts))


def test_global_shuffle_yaml_node(spark, docs):
    from metalpipe_spark.operators.curation import global_shuffle

    got = _node(spark, "GlobalShuffle", {"key_col": "doc_id", "seed": 7}, docs)
    _same(got, global_shuffle(spark.read.parquet(docs), "doc_id", seed=7))


def test_corpus_report_yaml_node(spark, docs):
    from metalpipe_spark.operators.text import corpus_report

    got = _node(spark, "CorpusReport", {"exact_distinct": False}, docs)
    _same(got, corpus_report(spark.read.parquet(docs), exact_distinct=False))


def test_aggregate_values_yaml_node(spark, docs):
    from metalpipe_spark.operators.aggregate import aggregate_values_node

    got = _node(spark, "AggregateValues", {"tail_path": "lang", "output_key": "langs"}, docs)
    _same(got, aggregate_values_node(spark.read.parquet(docs), "lang", output_key="langs"))


def test_sequence_emitter_yaml_node(spark):
    from metalpipe_spark.sources.emitters import sequence_emitter

    got = _node(spark, "SequenceEmitter", {"sequence": [1, 2, 3], "max_sequences": 2})
    want = sequence_emitter(spark, [1, 2, 3], max_sequences=2)
    _same(got, want)
    assert want.count() == 6


def test_csv_reader_yaml_node(spark, tmp_path):
    from metalpipe_spark.sources.readers import csv_reader

    path = tmp_path / "rows.csv"
    path.write_text("id,amount\n1,2.5\n2,4.0\n")
    got = _node(spark, "CSVReader", {"path": str(path), "infer_schema": False})
    want = csv_reader(spark, str(path), infer_schema=False)
    _same(got, want)
    assert {t for _, t in got.dtypes} == {"string"}


def test_local_file_reader_yaml_node(spark, tmp_path):
    from metalpipe_spark.sources.readers import local_file_reader

    path = tmp_path / "lines.txt"
    path.write_text("one\ntwo\nthree\n")
    got = _node(spark, "LocalFileReader", {"path": str(path), "serialize": True})
    want = local_file_reader(spark, str(path), serialize=True)
    _same(got, want)
    assert want.count() == 3
