"""Pipeline-config compiler tests (SURVEY.md §3.1): YAML → DataFrame DAG.

Mirrors the reference's pipeline-mechanics tests
(/root/reference/tests/test_metalpipe_processor.py:47-158): linking,
fan-in, end-to-end content assertions on a sink node.
"""

from __future__ import annotations

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.plans.pipeline import (
    apply_secrets,
    compile_pipeline,
    load_yaml_pipeline,
    render_template,
    run_pipeline,
)
from tests.conftest import SF_SMOKE


def test_linear_pipeline_filter_remap(spark):
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/customer.parquet"}},
            "only_building": {
                "class": "Filter",
                "options": {"test": "value_is_not_none", "test_keypath": "c_name"},
            },
            "shape": {
                "class": "Remapper",
                "options": {"mapping": {"id": "c_custkey", "segment": "c_mktsegment"}},
            },
        },
        "paths": [["read", "only_building", "shape"]],
    }
    p = compile_pipeline(spark, config)
    assert p.terminals == ["shape"]
    df = p.dataframes["shape"]
    assert df.columns == ["id", "segment"]
    direct = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    assert df.count() == direct.filter(F.col("c_name").isNotNull()).count()


def test_fan_in_union(spark):
    config = {
        "nodes": {
            "a": {"class": "CounterOfThings", "options": {"start": 0, "end": 5}},
            "b": {"class": "CounterOfThings", "options": {"start": 100, "end": 103}},
            "sink": {"class": "BlackHole"},
        },
        "edges": [["a", "sink"], ["b", "sink"]],
    }
    p = compile_pipeline(spark, config)
    rows = sorted(r["count"] for r in p.dataframes["sink"].collect())
    assert rows == [0, 1, 2, 3, 4, 100, 101, 102]


def test_join_node(spark):
    config = {
        "nodes": {
            "orders": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/orders.parquet"}},
            "customer": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/customer.parquet"}},
            "rename": {
                "class": "Remapper",
                "options": {"mapping": {"o_custkey": "c_custkey", "c_name": "c_name"}},
            },
            "joined": {"class": "Join", "options": {"on": "o_custkey", "broadcast": True}},
        },
        "paths": [["orders", "joined"], ["customer", "rename", "joined"]],
    }
    p = compile_pipeline(spark, config)
    df = p.dataframes["joined"]
    assert "c_name" in df.columns and "o_orderkey" in df.columns
    assert df.count() > 0


def test_cycle_detection(spark):
    config = {
        "nodes": {
            "a": {"class": "BlackHole"},
            "b": {"class": "BlackHole"},
        },
        "edges": [["a", "b"], ["b", "a"]],
    }
    with pytest.raises(ValueError, match="cycle"):
        compile_pipeline(spark, config)


def test_yaml_template_secrets_end_to_end(spark, tmp_path):
    secrets = tmp_path / "secrets.yaml"
    secrets.write_text("cache.token: sf_dir_value\n")
    os.environ["MPS_TEST_DATA_DIR"] = SF_SMOKE
    text = textwrap.dedent(
        """
        pipeline_name: smoke
        nodes:
          read:
            class: ParquetReader
            options: {path: "{{ MPS_TEST_DATA_DIR }}/nation.parquet"}
          tag:
            class: InsertData
            options:
              values: {source: cache.token}
        paths:
          - [read, tag]
        """
    )
    p = load_yaml_pipeline(spark, text, secrets_files=[str(secrets)])
    row = p.dataframes["tag"].select("source").head()
    assert row[0] == "sf_dir_value"
    counts = run_pipeline(p)
    assert counts["tag"] == 25


def test_universal_node_options(spark):
    """input_mapping renames on ingest; post_process_function applies a
    dotted-path UDF at a keypath of each output."""
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/nation.parquet"}},
            "shaped": {
                "class": "Remapper",
                "options": {
                    "input_mapping": {"n_name": "nation_name"},
                    "mapping": {"name": "nation_name", "key": "n_nationkey"},
                    "post_process_function": "metalpipe_spark.functions.scalars.lower_str",
                    "post_process_keypath": "name",
                },
            },
        },
        "paths": [["read", "shaped"]],
    }
    p = compile_pipeline(spark, config)
    names = [r["name"] for r in p.dataframes["shaped"].orderBy("key").collect()]
    assert names[0] == "nation_0"  # renamed on ingest, lowered on egress


def test_render_template_env(monkeypatch):
    monkeypatch.setenv("MPS_TPL_X", "42")
    assert render_template("v={{ MPS_TPL_X }}") == "v=42"
    with pytest.raises(ValueError, match="unresolved"):
        render_template("v={{ not_a_real_thing_xyz }}")


def test_streaming_pipeline_yaml(spark, tmp_path):
    """A YAML config whose source is the streaming file watchdog and
    whose transform is a tumbling window — compiled and executed with an
    availableNow trigger (the reference's TimeWindowAccumulator intent)."""
    from metalpipe_spark.sources.readers import load_table
    from metalpipe_spark.streaming.streams import run_to_memory

    ev = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "ev"
    ev.limit(500).write.parquet(str(src))
    ddl = ev.schema.simpleString()[7:-1].replace(":", " ")  # struct<...> -> DDL-ish
    config = {
        "nodes": {
            "watch": {
                "class": "LocalDirectoryWatchdog",
                "options": {"directory": str(src), "schema": ev.schema.json() and ddl},
            },
            "windowed": {
                "class": "TimeWindowAccumulator",
                "options": {
                    "ts_col": "ts",
                    "window": "1 day",
                    "aggregates": [{"fn": "count", "column": "*", "alias": "n"}],
                },
            },
        },
        "paths": [["watch", "windowed"]],
    }
    p = compile_pipeline(spark, config)
    df = p.dataframes["windowed"]
    assert df.isStreaming
    out = run_to_memory(df, "t_stream_yaml", spark, output_mode="complete")
    assert out.agg(F.sum("n")).head()[0] == 500


def test_cli_run_and_draw(spark, tmp_path, capsys):
    import textwrap

    from metalpipe_spark.cli import main

    cfg = tmp_path / "p.yaml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            pipeline_name: cli_smoke
            nodes:
              read:
                class: ParquetReader
                options: {{path: "{SF_SMOKE}/region.parquet"}}
              hole:
                class: BlackHole
            paths:
              - [read, hole]
            """
        )
    )
    assert main(["draw", "--filename", str(cfg)]) == 0
    drawn = capsys.readouterr().out
    assert "read [ParquetReader] -> hole" in drawn
    assert main(["run", "--filename", str(cfg)]) == 0
    ran = capsys.readouterr().out
    assert '"hole": 5' in ran


def test_apply_secrets_nested():
    cfg = {"a": ["tok1", {"b": "tok2"}], "c": "plain"}
    out = apply_secrets(cfg, {"tok1": "X", "tok2": "Y"})
    assert out == {"a": ["X", {"b": "Y"}], "c": "plain"}


def test_break_test_stops_after_trigger(spark):
    """Universal break_test option (node.py:477-486): the triggering
    message is emitted (yield-then-test), nothing after it in order."""
    config = {
        "nodes": {
            "counter": {
                "class": "CounterOfThings",
                "options": {
                    "start": 0,
                    "end": 50,
                    "break_test": {
                        "function": "tests.udf_fixtures.count_is_ten",
                        "order_by": "count",
                        "key": "count",
                    },
                },
            },
        },
        "paths": [],
    }
    got = sorted(r["count"] for r in compile_pipeline(spark, config).dataframes["counter"].collect())
    assert got == list(range(11))  # 0..10 inclusive — the trigger flows


def test_break_test_no_trigger_keeps_all(spark):
    config = {
        "nodes": {
            "counter": {
                "class": "CounterOfThings",
                "options": {
                    "start": 20,
                    "end": 25,
                    "break_test": {
                        "function": "tests.udf_fixtures.count_is_ten",
                        "order_by": "count",
                        "key": "count",
                    },
                },
            },
        },
        "paths": [],
    }
    df = compile_pipeline(spark, config).dataframes["counter"]
    assert df.count() == 5


def test_break_test_requires_order(spark):
    config = {
        "nodes": {
            "c": {
                "class": "CounterOfThings",
                "options": {"start": 0, "end": 5, "break_test": {"function": "x.y"}},
            }
        },
        "paths": [],
    }
    with pytest.raises(ValueError, match="order"):
        compile_pipeline(spark, config)


def test_csv_to_dictionary_list_one_message(spark, tmp_path):
    """node.py:1080-1088: the whole CSV arrives as ONE message holding the
    row list (array<struct>), values as strings like csv.DictReader."""
    p = tmp_path / "people.csv"
    p.write_text("name,age\nada,36\ngrace,45\n")
    config = {
        "nodes": {
            "csv": {"class": "CSVToDictionaryList", "options": {"path": str(p)}},
        },
        "paths": [],
    }
    rows = compile_pipeline(spark, config).dataframes["csv"].collect()
    assert len(rows) == 1
    payload = sorted((r["name"], r["age"]) for r in rows[0]["rows"])
    assert payload == [("ada", "36"), ("grace", "45")]


def test_blocker_barrier(spark):
    """node.py:1720-1728: downstream of a Blocker sees schema but no rows."""
    config = {
        "nodes": {
            "src": {"class": "CounterOfThings", "options": {"start": 0, "end": 9}},
            "gate": {"class": "Blocker"},
            "sink": {"class": "BlackHole"},
        },
        "paths": [["src", "gate", "sink"]],
    }
    p = compile_pipeline(spark, config)
    assert p.dataframes["gate"].columns == ["count"]
    assert p.dataframes["sink"].count() == 0


def test_get_environment_variables_mappings(spark, monkeypatch):
    """node.py:1145-1191 incl. the mappings alias path; unset vars NULL."""
    monkeypatch.setenv("MP_TEST_TOKEN", "sekrit")
    monkeypatch.delenv("MP_TEST_MISSING", raising=False)
    config = {
        "nodes": {
            "env": {
                "class": "GetEnvironmentVariables",
                "options": {
                    "environment_variables": ["MP_TEST_TOKEN", "MP_TEST_MISSING"],
                    "mappings": {"MP_TEST_TOKEN": "token"},
                },
            },
        },
        "paths": [],
    }
    row = compile_pipeline(spark, config).dataframes["env"].head()
    assert row["token"] == "sekrit"
    assert row["MP_TEST_MISSING"] is None


def test_capture_replay_roundtrip(spark, tmp_path):
    """Record/replay fixturizer (metalpipe_recorder.py:7-45): every node's
    output captured at compile, replayable bit-for-bit."""
    from metalpipe_spark.plans.pipeline import replay_capture

    cap = str(tmp_path / "capture")
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/nation.parquet"}},
            "only": {
                "class": "Filter",
                "options": {"test": "value_is_not_none", "test_keypath": "n_name"},
            },
        },
        "paths": [["read", "only"]],
    }
    p = compile_pipeline(spark, config, capture_dir=cap)
    for node in ("read", "only"):
        live = sorted(map(tuple, p.dataframes[node].collect()))
        replayed = sorted(map(tuple, replay_capture(spark, cap, node).collect()))
        assert live == replayed and len(live) > 0


def test_ensure_table_exists_ddl():
    """civis_nodes.py:277-322: DDL built from the reference's column-spec
    dicts (and tuple shorthand), quoted and NULLable."""
    from metalpipe_spark.sinks.writers import ensure_table_exists

    ddl = ensure_table_exists(
        "target",
        [
            {"column_name": "id", "column_type": "BIGINT"},
            ("name", "VARCHAR(64)"),
        ],
        schema="public",
    )
    assert ddl == (
        'CREATE TABLE IF NOT EXISTS "public"."target" '
        '("id" BIGINT NULL, "name" VARCHAR(64) NULL)'
    )


def test_python_composition_api(spark):
    """Reference public API parity (node.py:278-284, README.rst:37-60):
    `a > b > c` chains, `>` returns the right operand, the graph lowers
    through the same compiler as YAML, run == global_start."""
    from metalpipe_spark.plans.api import node, compile_graph, run_graph

    read = node("ParquetReader", name="read", path=f"{SF_SMOKE}/customer.parquet")
    keep = node(
        "Filter", name="keep", test="value_is_not_none", test_keypath="c_name"
    )
    shape = node("Remapper", name="shape", mapping={"id": "c_custkey"})
    tail = read > keep > shape
    assert tail is shape  # chaining contract
    p = compile_graph(spark, keep)  # any node of the component works
    assert set(p.dataframes) == {"read", "keep", "shape"}
    assert p.terminals == ["shape"]
    counts = run_graph(spark, read)
    direct = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").filter(
        F.col("c_name").isNotNull()
    )
    assert counts == {"shape": direct.count()}


def test_python_api_fan_in(spark):
    from metalpipe_spark.plans.api import node, compile_graph

    a = node("CounterOfThings", name="a", start=0, end=3)
    b = node("CounterOfThings", name="b", start=10, end=14)
    sink = node("BlackHole", name="sink")
    a > sink
    b > sink
    p = compile_graph(spark, sink)
    assert p.dataframes["sink"].count() == 7


def test_sql_execute_node(spark):
    """SQLExecute (engine-native CivisSQLExecute, civis_nodes.py:374-426):
    upstreams become temp views, the SQL runs through Catalyst."""
    config = {
        "nodes": {
            "orders": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/orders.parquet"}},
            "agg": {
                "class": "SQLExecute",
                "options": {
                    "views": ["o"],
                    "sql": "SELECT o_orderpriority, COUNT(*) AS n FROM o GROUP BY 1",
                },
            },
        },
        "paths": [["orders", "agg"]],
    }
    df = compile_pipeline(spark, config).dataframes["agg"]
    direct = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").groupBy("o_orderpriority").count()
    assert {(r[0], r[1]) for r in df.collect()} == {(r[0], r[1]) for r in direct.collect()}


def test_curation_pipeline_yaml_end_to_end(spark):
    """The full training-data curation surface is reachable from the
    reference-style YAML path: scrub -> dedup -> chunk -> pack, plus a
    langid -> stratified-sample -> top-k branch off the same scrub."""
    text = textwrap.dedent(
        f"""
        pipeline_name: curation
        nodes:
          read:
            class: ParquetReader
            options: {{path: "{SF_SMOKE}/documents.parquet"}}
          scrub:
            class: ScrubPII
          dedup:
            class: ExactDedup
          chunk:
            class: ChunkDocuments
            options: {{chunk_tokens: 32, overlap: 8}}
          pack:
            class: PackShards
            options:
              weight_col: n_chunk_tokens
              order_col: chunk_id
              shard_budget: 512
          lang:
            class: DetectLanguage
          score:
            class: QualityScore
          sample:
            class: StratifiedSample
            options:
              strata_col: lang_detected
              fractions: {{en: 0.5, de: 0.5, fr: 0.5, es: 0.5}}
              key_col: doc_id
          top:
            class: TopKPerGroup
            options: {{group_col: lang_detected, order_col: quality, k: 3, tie_col: doc_id}}
        paths:
          - [read, scrub, dedup, chunk, pack]
          - [scrub, lang, score, sample, top]
        """
    )
    p = load_yaml_pipeline(spark, text)
    n_docs = p.dataframes["read"].count()
    assert p.dataframes["dedup"].count() <= n_docs
    chunks = p.dataframes["chunk"]
    assert chunks.count() >= p.dataframes["dedup"].count()
    packed = p.dataframes["pack"]
    assert packed.groupBy("shard_id").count().count() >= 2
    top = p.dataframes["top"].collect()
    assert top and all(r["rank"] <= 3 for r in top)
    # detected langs on the tiny smoke corpus may collapse to en-only
    # ('unk' is excluded by the sample fractions); membership is the
    # contract here, breadth is covered by q_langid's oracle row.
    langs = {r["lang_detected"] for r in top}
    assert langs and langs <= {"en", "de", "fr", "es", "zh"}


def test_cli_queries_and_explain(capsys):
    from metalpipe_spark.cli import main

    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    assert "q05_region_revenue" in out and "[oracle]" in out
    assert main(["explain", "q01_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "HashAggregate" in out


def test_decontaminate_and_quality_nodes(spark):
    leak = "shared benchmark passage about spark engines at scale today"
    corpus = [(1, leak + " and more corpus content following it"),
              (2, "an ordinary training document with enough tokens here")]
    bench = [(100, leak)]
    config = {
        "nodes": {
            "corpus": {"class": "ParquetReader", "options": {"path": "__corpus__"}},
            "bench": {"class": "ParquetReader", "options": {"path": "__bench__"}},
            "decon": {
                "class": "Decontaminate",
                "options": {"min_shared": 3, "report_view": "decon_report"},
            },
            "quality": {"class": "QualityFilter"},
            "pdedup": {"class": "ParagraphDedup"},
        },
        "paths": [["corpus", "decon", "quality", "pdedup"], ["bench", "decon"]],
    }
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(corpus, ["doc_id", "text"]).write.parquet(f"{tmp}/c")
        spark.createDataFrame(bench, ["doc_id", "text"]).write.parquet(f"{tmp}/b")
        config["nodes"]["corpus"]["options"]["path"] = f"{tmp}/c"
        config["nodes"]["bench"]["options"]["path"] = f"{tmp}/b"
        p = compile_pipeline(spark, config)
        out = p.dataframes["pdedup"].collect()
        assert [r["doc_id"] for r in out] == [2]
        assert spark.table("decon_report").first()["corpus_id"] == 1


def test_mix_export_pipeline_yaml_end_to_end(spark, tmp_path):
    """The round-7 curation surface is reachable from the YAML entry
    path: normalized dedup -> model quality filter -> domain mix ->
    split -> shuffled shard export, in one config."""
    shards = str(tmp_path / "shards")
    text = textwrap.dedent(
        f"""
        pipeline_name: mix_export
        nodes:
          read:
            class: ParquetReader
            options: {{path: "{SF_SMOKE}/documents.parquet"}}
          dedup:
            class: NormalizedDedup
          quality:
            class: ModelQualityFilter
            options:
              weights: [0.31, -0.12, 0.27, -0.05, 0.18, -0.22, 0.09, 0.14]
              threshold: -1.0
          mix:
            class: DomainMixSample
            options:
              domain_col: lang
              key_col: doc_id
              weights: {{en: 0.4, de: 0.2, fr: 0.2, es: 0.1, zh: 0.1}}
              budget_frac: 0.8
          split:
            class: SplitCorpus
            options:
              key_col: doc_id
              fractions: {{train: 0.8, validation: 0.1, test: 0.1}}
              salt: split
          export:
            class: TrainingShardWriter
            options: {{path: "{shards}", key_col: doc_id, num_shards: 3}}
        paths:
          - [read, dedup, quality, mix, split, export]
        """
    )
    p = load_yaml_pipeline(spark, text)
    counts = run_pipeline(p)
    assert counts["export"] > 0
    back = spark.read.parquet(shards)
    assert set(back.select("shard").distinct().toPandas()["shard"]) <= {0, 1, 2}
    assert "split" in back.columns
    # the export count matches what survived the chain
    assert back.count() == counts["export"]


def test_reference_config_vocabulary_parity(spark, tmp_path, monkeypatch):
    """Reference-shaped configs must load verbatim: source/target edges,
    transform_mapping with '__'-separated function paths, the dict
    secrets_files shape with '{cache}.{key}' tokens, and '__' evaluator
    template variables (jinja identifiers cannot contain dots)."""
    import yaml

    secrets = tmp_path / "s.yml"
    secrets.write_text("password: hunter2\n")
    text = """
nodes:
  src:
    class: ConstantEmitter
    options:
      thing: {user: "{{ os__getcwd }}", pw: mysecrets.password, v: "XY"}
      max_loops: 2
  trim:
    class: SimpleTransforms
    options:
      transform_mapping:
        - path: [v]
          target_function: metalpipe_spark__functions__scalars__lower_str
          return_type: string
edges:
  - {source: src, target: trim}
secrets_files: {mysecrets: """ + str(secrets) + """}
"""
    p = load_yaml_pipeline(spark, text)
    rows = p.terminal_frames()["trim"].collect()
    assert rows and rows[0]["pw"] == "hunter2"      # namespaced secret
    assert rows[0]["v"] == "xy"                     # __-path function ran
    import os as _os

    assert rows[0]["user"] == _os.getcwd()          # __ evaluator template


def test_post_process_without_keypath_fails_loudly(spark):
    from metalpipe_spark.plans.pipeline import compile_pipeline

    config = {
        "nodes": {
            "src": {
                "class": "ConstantEmitter",
                "options": {
                    "thing": {"a": 1},
                    "max_loops": 1,
                    "post_process_function": "metalpipe_spark.functions.scalars.lower_str",
                },
            }
        },
        "paths": [["src"]],
    }
    import pytest

    with pytest.raises(ValueError, match="post_process_keypath"):
        compile_pipeline(spark, config)


def test_max_messages_received_limits_node_output(spark):
    """Reference universal node options (node.py:167,170,445-453):
    max_messages_received bounds what the node CONSUMES — each upstream
    is limited before the node runs (a source node bounds its own
    emission) — and throttle is accepted and ignored (batch Spark has
    no per-message cadence)."""
    config = {
        "nodes": {
            "read": {
                "class": "ParquetReader",
                "options": {
                    "path": f"{SF_SMOKE}/customer.parquet",
                    "max_messages_received": 7,
                    "throttle": 0.5,
                },
            },
            "shape": {
                "class": "Remapper",
                "options": {
                    "mapping": {"id": "c_custkey"},
                    "max_messages_received": 3,
                },
            },
        },
        "paths": [["read", "shape"]],
    }
    p = compile_pipeline(spark, config)
    assert p.dataframes["read"].count() == 7
    assert p.dataframes["shape"].count() == 3
    # the plan is a real Catalyst limit, not a driver-side truncation
    assert "GlobalLimit" in p.dataframes["shape"]._jdf.queryExecution().optimizedPlan().toString()


def test_max_messages_received_bounds_input_of_aggregating_nodes(spark):
    """Review fix (r9): the option is an INPUT bound (reference
    node.py:445-450 stops consuming).  An aggregating node with
    max_messages_received: 3 must aggregate the first 3 consumed
    messages — limiting its OUTPUT instead would return one row
    aggregating ALL inputs, a silently different result."""
    config = {
        "nodes": {
            "read": {
                "class": "ParquetReader",
                "options": {"path": f"{SF_SMOKE}/nation.parquet"},
            },
            "batch": {
                "class": "BatchMessages",
                "options": {
                    "batch_size": 100,
                    "key": "n_nationkey",
                    "max_messages_received": 3,
                },
            },
        },
        "paths": [["read", "batch"]],
    }
    p = compile_pipeline(spark, config)
    out = p.dataframes["batch"].collect()
    assert len(out) == 1  # still ONE batch message...
    assert out[0]["batch_size"] == 3  # ...holding only the 3 consumed rows
    assert len(out[0]["items"]) == 3


def test_max_messages_received_total_bound_multi_upstream(spark):
    """Review fix (r10): with several upstreams the reference stops after
    N TOTAL arrivals (node.py:445-450).  The batch realization is the
    sequential-exhaustion interleaving — never more than N rows total
    reach the node (previously each upstream was allowed N)."""
    config = {
        "nodes": {
            "a": {
                "class": "ParquetReader",
                "options": {"path": f"{SF_SMOKE}/nation.parquet"},
            },
            "b": {
                "class": "ParquetReader",
                "options": {"path": f"{SF_SMOKE}/nation.parquet"},
            },
            "sink": {
                "class": "PrinterOfThings",
                "options": {"max_messages_received": 30},
            },
        },
        "paths": [["a", "sink"], ["b", "sink"]],
    }
    p = compile_pipeline(spark, config)
    # nation has 25 rows: upstream a contributes all 25, b only 5.
    assert p.dataframes["sink"].count() == 30


def test_retrieval_nodes_yaml_end_to_end(spark, tmp_path):
    """BM25Batch + RRFFuse as YAML nodes: a two-retriever fusion DAG
    compiles and fuses ranks with the operator's arithmetic."""
    corpus = spark.createDataFrame(
        [
            (0, "rare common alpha beta"),
            (1, "common alpha beta gamma delta"),
            (2, "rare rare common"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(9, ["rare", "common"])], "query_id long, terms array<string>"
    )
    other = spark.createDataFrame(
        [(9, 1, 1), (9, 0, 2)], "query_id long, doc_id long, rnk long"
    )
    corpus.createOrReplaceTempView("corpus_v")
    queries.createOrReplaceTempView("queries_v")
    other.createOrReplaceTempView("other_v")
    cfg = {
        "pipeline_name": "retrieval_test",
        "nodes": {
            "corpus": {"class": "SQLExecute", "options": {"views": [], "sql": "SELECT * FROM corpus_v"}},
            "queries": {"class": "SQLExecute", "options": {"views": [], "sql": "SELECT * FROM queries_v"}},
            "other": {"class": "SQLExecute", "options": {"views": [], "sql": "SELECT * FROM other_v"}},
            "bm25": {"class": "BM25Batch", "options": {"k": 5}},
            "fused": {
                "class": "RRFFuse",
                "options": {"k": 3, "sources": ["bm25", "other"]},
            },
        },
        "paths": [
            ["corpus", "bm25"],
            ["queries", "bm25"],
            ["bm25", "fused"],
            ["other", "fused"],
        ],
    }
    from metalpipe_spark.plans.pipeline import compile_pipeline

    p = compile_pipeline(spark, cfg)
    got = [(r["doc_id"], r["rnk"]) for r in p.dataframes["fused"].orderBy("rnk").collect()]
    assert len(got) == 3 and got[0][1] == 1

    from metalpipe_spark.operators.retrieval import bm25_topk_batch, rrf_fuse

    direct = [
        (r["doc_id"], r["rnk"])
        for r in rrf_fuse(
            {"bm25": bm25_topk_batch(corpus, queries, k=5), "other": other},
            k=3,
        ).orderBy("rnk").collect()
    ]
    assert got == direct


def test_round10_curation_nodes_yaml_end_to_end(spark, tmp_path):
    """BoilerplateRemoval / VocabCoverage / KeepBestDedup /
    LeakageFreeSplit / TokenBudgetSample wired through YAML configs."""
    BANNER = " ".join(f"c{i}" for i in range(32))
    docs = [
        (1, f"{BANNER} alpha beta gamma delta"),
        (2, f"{BANNER} alpha beta other words"),
        (3, f"{BANNER} something else entirely here"),
    ]
    assigns = [(1, 1), (2, 1)]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(f"{tmp_path}/d")
    spark.createDataFrame(assigns, ["doc_id", "cluster_id"]).write.parquet(
        f"{tmp_path}/a"
    )
    config = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "assigns": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/a"}},
            "bp": {"class": "BoilerplateRemoval", "options": {"min_df": 3}},
            "vocab": {"class": "VocabCoverage", "options": {"vocab_size": 4}},
            "keep": {"class": "KeepBestDedup", "options": {"score_col": "doc_id"}},
            "split": {
                "class": "LeakageFreeSplit",
                "options": {"fractions": {"train": 0.5, "test": 0.5}},
            },
        },
        "paths": [
            ["docs", "bp", "vocab"],
            ["docs", "keep"], ["assigns", "keep"],
            ["docs", "split"], ["assigns", "split"],
        ],
    }
    p = compile_pipeline(spark, config)
    bp = {r["doc_id"]: r["text"] for r in p.dataframes["bp"].collect()}
    assert all(BANNER not in t for t in bp.values())  # banner stripped everywhere
    cov = {r["doc_id"]: r for r in p.dataframes["vocab"].collect()}
    assert set(cov) == {1, 2, 3} and all(0 <= r["oov_rate"] <= 1 for r in cov.values())
    kept = sorted(r["doc_id"] for r in p.dataframes["keep"].collect())
    assert kept == [2, 3]  # cluster {1,2}: score=doc_id -> 2 wins; 3 isolated
    split = {r["doc_id"]: r["split"] for r in p.dataframes["split"].collect()}
    assert split[1] == split[2]  # same cluster, same split


def test_token_budget_sample_node_yaml(spark, tmp_path):
    rows = [(i, f"{i:03d}", 10) for i in range(6)]
    spark.createDataFrame(rows, ["doc_id", "ord", "w"]).write.parquet(
        f"{tmp_path}/t"
    )
    config = {
        "nodes": {
            "src": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/t"}},
            "cut": {
                "class": "TokenBudgetSample",
                "options": {"weight_col": "w", "order_col": "ord", "budget": 25},
            },
        },
        "paths": [["src", "cut"]],
    }
    p = compile_pipeline(spark, config)
    assert sorted(r["doc_id"] for r in p.dataframes["cut"].collect()) == [0, 1]


def test_arpa_reader_ngram_logprob_yaml(spark, tmp_path):
    """ArpaReader -> NgramLogprob wired through YAML: KenLM .arpa drops
    into the perplexity filter as a second upstream."""
    arpa = tmp_path / "m.arpa"
    arpa.write_text(
        "\\data\\\nngram 1=2\nngram 2=1\n\n"
        "\\1-grams:\n-1.0\thello\t-0.3\n-1.2\tworld\n\n"
        "\\2-grams:\n-0.25\thello world\n\n\\end\\\n"
    )
    spark.createDataFrame(
        [(1, "hello world hello world"), (2, "xx yy")], ["doc_id", "text"]
    ).write.parquet(f"{tmp_path}/d")
    config = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "lm": {"class": "ArpaReader", "options": {"path": str(arpa)}},
            "ppl": {"class": "NgramLogprob", "options": {"n": 2, "order": 2}},
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    p = compile_pipeline(spark, config)
    got = {r["doc_id"]: r["mean_logprob"] for r in p.dataframes["ppl"].collect()}
    # doc 1: grams [hw, wh, hw] -> (-0.25 + -8.0 + -0.25)/3; doc 2: 1 OOV gram
    assert abs(got[1] - (-8.5 / 3)) < 1e-9
    assert abs(got[2] - (-8.0)) < 1e-9

    # backoff: true routes the SAME wiring through the backoff scorer:
    # the unseen "world hello" gram now chains to the unigram
    # (bo("world") is NULL -> weight 1) instead of the flat floor.
    config2 = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "lm": {"class": "ArpaReader", "options": {"path": str(arpa)}},
            "ppl": {
                "class": "NgramLogprob",
                "options": {"n": 2, "backoff": True},
            },
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    p2 = compile_pipeline(spark, config2)
    got2 = {r["doc_id"]: r["mean_logprob"] for r in p2.dataframes["ppl"].collect()}
    assert abs(got2[1] - ((-0.25 + -1.0 + -0.25) / 3)) < 1e-9
    assert abs(got2[2] - (-8.0)) < 1e-9  # final word unseen -> floor

    # r17 advice: backoff + order are contradictory (order slices for
    # the FLAT scorer; backoff consumes every order) — refuse loudly
    # instead of silently running different semantics than configured.
    import pytest

    config3 = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "lm": {"class": "ArpaReader", "options": {"path": str(arpa)}},
            "ppl": {
                "class": "NgramLogprob",
                "options": {"n": 2, "backoff": True, "order": 2},
            },
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    with pytest.raises(ValueError, match="flat-path-only"):
        compile_pipeline(spark, config3).dataframes["ppl"].collect()


def test_pivot_pinned_node_yaml(spark, tmp_path):
    spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        ["k", "p", "v"],
    ).write.parquet(f"{tmp_path}/t")
    config = {
        "nodes": {
            "src": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/t"}},
            "wide": {
                "class": "PivotPinned",
                "options": {
                    "group_cols": "k",
                    "pivot_col": "p",
                    "values": ["x", "y"],
                    "agg_col": "v",
                    "out_names": ["sum_x", "sum_y"],
                },
            },
        },
        "paths": [["src", "wide"]],
    }
    p = compile_pipeline(spark, config)
    got = {r["k"]: (r["sum_x"], r["sum_y"]) for r in p.dataframes["wide"].collect()}
    assert got == {"a": (1.0, 2.0), "b": (3.0, None)}


def test_semantic_dedup_node_scaled_path(spark, tmp_path):
    """VERDICT r12 task 1: the YAML SemanticDedup node reaches the
    corpus-scale linear plan (semantic_dedup_scaled) via ``scaled:
    true`` / ``target_cell_size`` — a config-surface user no longer
    falls into the measured-38x fixed-centroid path.  Rows-only pin
    (learned centroids): planted parallel duplicates lose to their
    lower-id originals, originals all survive."""
    import math

    rows = []
    for i in range(120):
        theta = (i * 2.399963) % (2 * math.pi)
        v = [math.cos(theta), math.sin(theta), 0.0, 0.0]
        rows.append((i, v))
        if i % 4 == 0:
            rows.append((1000 + i, [2.0 * x for x in v]))  # cosine 1.0
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    ).write.parquet(path)
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": path}},
            "dedup": {
                "class": "SemanticDedup",
                "options": {
                    "scaled": True,
                    "target_cell_size": 30,
                    "threshold": 0.999999,
                    "seed": 7,
                },
            },
        },
        "paths": [["read", "dedup"]],
    }
    kept = {
        r["vec_id"]
        for r in compile_pipeline(spark, config).dataframes["dedup"].collect()
    }
    assert all(i in kept for i in range(120))
    assert all(1000 + i not in kept for i in range(0, 120, 4))
    # target_cell_size alone also routes to the scaled path; mixing the
    # scaled knobs with fixed centroids is a config contradiction.
    config["nodes"]["dedup"]["options"] = {
        "target_cell_size": 30,
        "num_centroids": 8,
    }
    with pytest.raises(ValueError, match="scaled"):
        compile_pipeline(spark, config)
    # An EXPLICIT scaled: false next to a scaled-only knob is rejected,
    # never silently overridden.
    config["nodes"]["dedup"]["options"] = {
        "scaled": False,
        "target_cell_size": 30,
    }
    with pytest.raises(ValueError, match="contradicts"):
        compile_pipeline(spark, config)


def test_neardup_and_decontaminate_nodes_hash_knob(spark, tmp_path):
    """VERDICT r12 task 6: the production-hash knob is reachable from
    the YAML surface — NearDupDedup threads it to minhash_lsh_pairs,
    Decontaminate(method=bloom) to the Bloom mask; the exact method
    hashes nothing and REJECTS the option instead of ignoring it."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = [(0, base), (1, base.replace("today", "tonight")),
              (2, "completely different content about spark shuffles and joins")]
    cpath, bpath = str(tmp_path / "c"), str(tmp_path / "b")
    spark.createDataFrame(corpus, ["doc_id", "text"]).write.parquet(cpath)
    spark.createDataFrame([(100, base)], ["doc_id", "text"]).write.parquet(bpath)

    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": cpath}},
            "dedup": {
                "class": "NearDupDedup",
                "options": {"threshold": 0.5, "hash": "xxhash64"},
            },
        },
        "paths": [["read", "dedup"]],
    }
    kept = {
        r["doc_id"]
        for r in compile_pipeline(spark, config).dataframes["dedup"].collect()
    }
    assert kept == {0, 2}  # near-dup 1 loses to 0 under xxhash64 too

    config = {
        "nodes": {
            "corpus": {"class": "ParquetReader", "options": {"path": cpath}},
            "bench": {"class": "ParquetReader", "options": {"path": bpath}},
            "decon": {
                "class": "Decontaminate",
                "options": {"method": "bloom", "hash": "xxhash64",
                            "min_hits": 3},
            },
        },
        "paths": [["corpus", "decon"], ["bench", "decon"]],
    }
    clean = {
        r["doc_id"]
        for r in compile_pipeline(spark, config).dataframes["decon"].collect()
    }
    assert 0 not in clean and 2 in clean  # the leaked doc is flagged

    config["nodes"]["decon"]["options"] = {"method": "exact", "hash": "xxhash64"}
    with pytest.raises(ValueError, match="hash option only applies"):
        compile_pipeline(spark, config)
    config["nodes"]["decon"]["options"] = {"method": "nope"}
    with pytest.raises(ValueError, match="exact.*bloom"):
        compile_pipeline(spark, config)


def test_lm_train_prune_export_score_yaml(spark, tmp_path):
    """r17: the complete CCNet train half in config — TrainBackoffLM
    (KN smoothing + inline count pruning) -> WriteArpa exports the
    artifact at compile -> the SAME graph scores held-out docs through
    NgramLogprob(backoff) -- and a second pipeline reloads the
    exported ARPA via ArpaReader and scores identically."""
    import os

    from metalpipe_spark.operators.text import (
        ngram_logprob_backoff,
        prune_lm,
        train_backoff_lm,
    )

    spark.createDataFrame(
        [(0, "the cat sat on the mat the cat sat"), (1, "a cat ran on the mat")],
        ["doc_id", "text"],
    ).write.parquet(f"{tmp_path}/train")
    spark.createDataFrame(
        [(7, "the cat sat"), (8, "zz qq")], ["doc_id", "text"]
    ).write.parquet(f"{tmp_path}/score")
    arpa = f"{tmp_path}/model.arpa"
    config = {
        "nodes": {
            "train": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/train"}},
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/score"}},
            "lm": {
                "class": "TrainBackoffLM",
                "options": {
                    "n": 2, "smoothing": "kn", "discount": 0.75,
                    "min_counts": 2,
                },
            },
            "export": {"class": "WriteArpa", "options": {"path": arpa}},
            "ppl": {"class": "NgramLogprob", "options": {"n": 2, "backoff": True}},
        },
        "paths": [["train", "lm", "export"], ["docs", "ppl"], ["export", "ppl"]],
    }
    p = compile_pipeline(spark, config)
    got = {r["doc_id"]: r["mean_logprob"] for r in p.dataframes["ppl"].collect()}
    assert os.path.exists(arpa)
    # operator-level replay of the same chain
    want_lm = prune_lm(
        train_backoff_lm(
            spark.read.parquet(f"{tmp_path}/train"), n=2,
            discount=0.75, smoothing="kn",
        ),
        min_counts=2,
        n=2,
    )
    want = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(
            spark.read.parquet(f"{tmp_path}/score"), want_lm, n=2
        ).collect()
    }
    assert got == want
    # the exported artifact reloads and scores identically
    config2 = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/score"}},
            "lm": {"class": "ArpaReader", "options": {"path": arpa}},
            "ppl": {"class": "NgramLogprob", "options": {"n": 2, "backoff": True}},
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    p2 = compile_pipeline(spark, config2)
    got2 = {r["doc_id"]: r["mean_logprob"] for r in p2.dataframes["ppl"].collect()}
    assert got2 == got


def test_detect_language_model_yaml_nodes(spark, tmp_path):
    """Two DetectLanguageModel nodes from YAML: the pinned model on the
    default ``text`` column, then a custom bias-only model (no
    ``script_weights``) read from ``body`` into ``output_key``.  Both
    label columns equal ``detect_language_model`` called directly."""
    import json

    from metalpipe_spark.operators.langid import detect_language_model

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "a b c"),
        (1, "el perro come la comida en la casa", "d e f g"),
        (2, "der Hund isst das Essen im Haus", "x"),
        (3, "これは日本語の文章です", "aa bb aa"),
        (4, None, None),
        (5, "", "q r s t u v"),
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id int, text string, body string").write.parquet(
        str(src)
    )
    custom = {
        "classes": ["aa", "bb", "cc"],
        "weights": {
            "aa": [0.9, -0.2, 0.1, 0.0],
            "bb": [-0.3, 0.8, 0.0, 0.2],
            "cc": [0.0, 0.1, 0.7, -0.4],
        },
        "biases": {"aa": 0.1, "bb": 0.0, "cc": -0.1},
    }
    text = textwrap.dedent(
        f"""
        nodes:
          read:
            class: ParquetReader
            options: {{path: "{src}"}}
          pinned:
            class: DetectLanguageModel
          custom:
            class: DetectLanguageModel
            options:
              text_key: body
              output_key: lang_custom
              classes: {json.dumps(custom["classes"])}
              weights: {json.dumps(custom["weights"])}
              biases: {json.dumps(custom["biases"])}
        paths:
          - [read, pinned, custom]
        """
    )
    df = load_yaml_pipeline(spark, text).dataframes["custom"]
    got = df.select(
        "lang_pred",
        "lang_custom",
        detect_language_model("text").alias("want_pred"),
        detect_language_model("body", **custom).alias("want_custom"),
    ).collect()
    assert len(got) == len(rows)
    assert [(r[0], r[1]) for r in got] == [(r[2], r[3]) for r in got]
    assert len({r["lang_pred"] for r in got}) > 1
    assert len({r["lang_custom"] for r in got}) > 1
