"""HTTP source tests (hermetic — injected fetcher) and sink tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.sinks.writers import remap_columns, write_csv, write_parquet
from metalpipe_spark.sources.http import (
    SafeMap,
    http_get_request,
    paginated_get,
    parallel_fetch,
)
from metalpipe_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def test_safemap_partial_format():
    assert "https://x/{a}/1".format_map(SafeMap({"b": 1})) == "https://x/{a}/1"


def test_http_get_request_json(spark):
    def fake(url):
        assert url == "https://api/x?limit=2"
        return json.dumps([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])

    df = http_get_request(
        spark, "https://api/x?limit={limit}", {"limit": 2}, fetch=fake
    )
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_paginated_get_follows_cursor(spark):
    pages = {
        "": {"items": [1, 2], "next": "c1"},
        "c1": {"items": [3], "next": "c2"},
        "c2": {"items": [], "next": None},
    }

    def fake(url):
        cursor = url.rsplit("cursor=", 1)[-1]
        return json.dumps(pages[cursor])

    df = paginated_get(
        spark,
        "https://api/list?cursor={cursor}",
        additional_data_key="next",
        pagination_key="next",
        pagination_get_request_key="cursor",
        fetch=fake,
    )
    rows = df.orderBy(F.col("next")).collect()
    assert df.count() == 3  # three pages fetched
    all_items = sorted(x for r in rows for x in (r["items"] or []))
    assert all_items == [1, 2, 3]


def test_parallel_fetch_distributed(spark):
    nation = load_table(spark, SF_SMOKE, "nation").select("n_nationkey").limit(5)

    def fake(url):
        return "body-for-" + url.rsplit("/", 1)[-1]

    out = parallel_fetch(nation, "https://api/nation/{n_nationkey}", ["n_nationkey"], fetch=fake)
    rows = {r["n_nationkey"]: r["body"] for r in out.collect()}
    assert rows[0] == "body-for-0"
    assert len(rows) == 5


def test_remap_columns(spark):
    cust = load_table(spark, SF_SMOKE, "customer")
    out = remap_columns(cust, {"c_name": "name"}, ["c_name", "c_acctbal"])
    assert out.columns == ["name", "c_acctbal"]


def test_write_parquet_roundtrip(spark, tmp_path):
    cust = load_table(spark, SF_SMOKE, "customer").limit(20)
    write_parquet(cust, str(tmp_path / "out"), partition_by=["c_mktsegment"])
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 20
    # partition pruning surface exists
    segs = [r["c_mktsegment"] for r in back.select("c_mktsegment").distinct().collect()]
    assert len(segs) >= 1


def test_write_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_SMOKE, "nation")
    write_csv(nation, str(tmp_path / "csv"))
    back = spark.read.csv(str(tmp_path / "csv"), header=True, inferSchema=True)
    assert back.count() == 25


def test_jdbc_staged_publish_roundtrip_embedded_derby(spark):
    """The full §2.1/§2.2 JDBC surface against a real database — the
    Derby engine Spark already ships for its metastore, run in-memory:
    staged write + single-statement publish (SendToCivis's pattern),
    metadata-schema read-back, and query-in-table pushdown."""
    from metalpipe_spark.sinks.writers import write_jdbc_staged
    from metalpipe_spark.sources.readers import jdbc_table

    url = "jdbc:derby:memory:mpsdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nation = load_table(spark, SF_SMOKE, "nation").select(
        "n_nationkey", "n_name"
    )
    # prod table: created empty, then appended to only via the staged
    # publish -- readers never observe a half-loaded table.
    nation.limit(0).write.jdbc(url, "prod_nation", mode="overwrite", properties=props)
    staging = write_jdbc_staged(nation, url, "prod_nation", properties=props)
    assert staging == "prod_nation_staging"

    back = jdbc_table(spark, url, "prod_nation", properties=props)
    assert sorted(c.lower() for c in back.columns) == ["n_name", "n_nationkey"]
    assert back.count() == nation.count()
    # staging table dropped after publish
    with pytest.raises(Exception):
        jdbc_table(spark, url, "prod_nation_staging", properties=props).count()
    # CivisSQLExecute-style query-in-table pushdown
    q = jdbc_table(
        spark,
        url,
        '(SELECT "n_nationkey" FROM prod_nation WHERE "n_nationkey" < 5) t',
        properties=props,
    )
    assert q.count() == 5


def test_http_sources_against_real_localhost_server(spark):
    """default_fetch + the three HTTP shapes against an actual HTTP
    endpoint (stdlib server on a loopback port), not an injected fake:
    single templated GET, cursor pagination, and the distributed
    parallel_fetch path (executors fetch over real sockets)."""
    import http.server
    import threading

    from metalpipe_spark.sources.http import (
        http_get_request,
        paginated_get,
        parallel_fetch,
    )

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path.startswith("/item/"):
                body = json.dumps({"id": int(self.path.rsplit("/", 1)[-1]), "ok": True})
            elif self.path.startswith("/page"):
                # cursor pagination: /page?cursor= -> a, a -> b (empty=end)
                cur = self.path.split("cursor=")[-1]
                nxt = {"": "a", "a": "b", "b": ""}[cur]
                data = [] if cur == "b" else [cur or "start"]
                body = json.dumps({"data": data, "next": nxt})
            else:
                body = json.dumps({"ok": True})
            payload = body.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        one = http_get_request(
            spark, f"http://127.0.0.1:{port}/item/{{id}}", {"id": 7}
        )
        assert one.first()["id"] == 7

        pages = paginated_get(
            spark,
            f"http://127.0.0.1:{port}/page?cursor={{cursor}}",
            additional_data_key="data",
            pagination_key="next",
            pagination_get_request_key="cursor",
            default_offset_value="",
            max_pages=10,
        )
        rows = pages.collect()
        assert len(rows) == 3  # followed the cursor to the empty page
        assert sorted(x for r in rows for x in r["data"]) == ["a", "start"]

        params = spark.range(6).select(F.col("id").alias("item"))
        fetched = parallel_fetch(
            params, f"http://127.0.0.1:{port}/item/{{item}}", ["item"]
        )
        got = sorted(json.loads(r["body"])["id"] for r in fetched.collect())
        assert got == list(range(6))
    finally:
        srv.shutdown()
        srv.server_close()


def test_upsert_parquet_rewrites_only_touched_partitions(spark, tmp_path):
    from metalpipe_spark.sinks.writers import upsert_parquet

    path = str(tmp_path / "target")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        ["id", "part", "v"],
    )
    upsert_parquet(initial, path, "id", "part")

    import os
    import time

    c_files = {
        f: os.path.getmtime(os.path.join(path, "part=c", f))
        for f in os.listdir(os.path.join(path, "part=c"))
        if f.endswith(".parquet")
    }
    time.sleep(1.1)

    # update id=2 (partition a), insert id=5 (partition b); partition c untouched
    batch = spark.createDataFrame(
        [(2, "a", 99.0), (5, "b", 50.0)], ["id", "part", "v"]
    )
    upsert_parquet(batch, path, "id", "part")

    rows = {
        r["id"]: (r["part"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {
        1: ("a", 10.0),
        2: ("a", 99.0),  # matched key replaced
        3: ("b", 30.0),
        4: ("c", 40.0),  # untouched partition intact
        5: ("b", 50.0),  # new key inserted
    }
    # untouched partition's files were not rewritten
    for f, mtime in c_files.items():
        assert os.path.getmtime(os.path.join(path, "part=c", f)) == mtime


def test_merge_upsert_multi_key(spark):
    from metalpipe_spark.sinks.writers import merge_upsert

    target = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0), (2, "x", 3.0)], ["k1", "k2", "v"]
    )
    updates = spark.createDataFrame(
        [(1, "y", 20.0), (3, "z", 30.0)], ["k1", "k2", "v"]
    )
    got = sorted(
        (r["k1"], r["k2"], r["v"])
        for r in merge_upsert(target, updates, ["k1", "k2"]).collect()
    )
    assert got == [(1, "x", 1.0), (1, "y", 20.0), (2, "x", 3.0), (3, "z", 30.0)]


def test_merge_upsert_last_wins_on_order_col(spark):
    from metalpipe_spark.sinks.writers import merge_upsert

    target = spark.createDataFrame([(1, 1.0, 0)], ["id", "v", "seq"])
    # three updates for id=1 in one batch, plus a new key with two versions
    updates = spark.createDataFrame(
        [(1, 10.0, 5), (1, 30.0, 7), (1, 20.0, 6), (2, 5.0, 1), (2, 6.0, 2)],
        ["id", "v", "seq"],
    )
    got = sorted(
        (r["id"], r["v"], r["seq"])
        for r in merge_upsert(target, updates, "id", order_col="seq").collect()
    )
    assert got == [(1, 30.0, 7), (2, 6.0, 2)]


def test_merge_upsert_last_wins_tie_is_deterministic(spark):
    """Equal order_col values must pick the same winner on every run:
    _last_wins orders the whole struct, so ties break on the remaining
    column values (lexicographic max)."""
    from metalpipe_spark.sinks.writers import merge_upsert

    target = spark.createDataFrame([(1, "old", 0)], ["id", "v", "seq"])
    updates = spark.createDataFrame(
        [(1, "alpha", 5), (1, "beta", 5), (1, "aardvark", 5)],
        ["id", "v", "seq"],
    ).repartition(8)  # spread the tied rows across partitions
    for _ in range(3):
        got = merge_upsert(target, updates, "id", order_col="seq").collect()
        assert [(r["id"], r["v"], r["seq"]) for r in got] == [(1, "beta", 5)]


def test_upsert_parquet_file_uri_target_merges(spark, tmp_path):
    """A file:// URI target forces the Hadoop-FS existence probe
    (os.path.isdir is False for any URI): the second batch must MERGE —
    unmatched target rows survive — not clobber the target."""
    from metalpipe_spark.sinks.writers import upsert_parquet

    uri = "file://" + str(tmp_path / "uri_target")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], ["id", "part", "v"]
    )
    upsert_parquet(initial, uri, "id", "part")
    batch = spark.createDataFrame([(2, "a", 99.0)], ["id", "part", "v"])
    upsert_parquet(batch, uri, "id", "part")
    rows = {r["id"]: r["v"] for r in spark.read.parquet(uri).collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0}


def test_upsert_parquet_null_partition_preserved(spark, tmp_path):
    """isin() never matches NULL: existing rows in the NULL partition
    (__HIVE_DEFAULT_PARTITION__) must be pulled into the merge slice
    explicitly or the dynamic overwrite would drop them."""
    from metalpipe_spark.sinks.writers import upsert_parquet

    path = str(tmp_path / "null_part")
    schema = "id bigint, part string, v double"
    initial = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "b", 30.0)], schema
    )
    upsert_parquet(initial, path, "id", "part")
    batch = spark.createDataFrame([(2, None, 99.0)], schema)
    upsert_parquet(batch, path, "id", "part")
    rows = {r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {1: (None, 10.0), 2: (None, 99.0), 3: ("b", 30.0)}


def test_upsert_parquet_replay_is_idempotent(spark, tmp_path):
    """Replaying the same batch (the streaming-restart repair path) must
    leave the target byte-identical in content: MERGE on key rewrites
    the same rows to the same values."""
    from metalpipe_spark.sinks.writers import upsert_parquet

    path = str(tmp_path / "replay")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "part", "v"]
    )
    upsert_parquet(initial, path, "id", "part")
    batch = spark.createDataFrame(
        [(1, "a", 11.0), (3, "a", 33.0)], ["id", "part", "v"]
    )
    upsert_parquet(batch, path, "id", "part")
    first = sorted(
        (r["id"], r["part"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    upsert_parquet(batch, path, "id", "part")  # replay
    second = sorted(
        (r["id"], r["part"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert first == second == [(1, "a", 11.0), (2, "b", 20.0), (3, "a", 33.0)]


def test_write_training_shards_balanced_and_reproducible(spark, tmp_path):
    """Shards are equal-sized to within one row, their union is the
    corpus, pos restores the global permutation, and a re-export with
    the same seed is byte-identical in assignment."""
    from metalpipe_spark.sinks.writers import write_training_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(103)], "doc_id int, text string"
    )
    out = str(tmp_path / "shards")
    write_training_shards(df, out, "doc_id", num_shards=4)

    back = spark.read.parquet(out)
    rows = [(r["doc_id"], r["pos"], r["shard"]) for r in back.collect()]
    assert len(rows) == 103
    assert sorted(p for _, p, _ in rows) == list(range(103))
    by_shard = {}
    for d, p, s in rows:
        assert s == p % 4  # round-robin interleave
        by_shard.setdefault(s, []).append(d)
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[-1] - sizes[0] <= 1

    # reproducible: same seed -> same assignment
    out2 = str(tmp_path / "shards2")
    write_training_shards(df.repartition(7), out2, "doc_id", num_shards=4)
    again = {
        (r["doc_id"], r["pos"], r["shard"])
        for r in spark.read.parquet(out2).collect()
    }
    assert again == set(rows)


def test_upsert_parquet_staged_incl_null_partition(spark, tmp_path):
    """The staged-rename promotion merges every touched partition —
    including the NULL partition (__HIVE_DEFAULT_PARTITION__) — and
    cleans up its stage; ``order_col`` resolves several updates of one
    key in a batch last-wins, inside the NULL partition too."""
    import os

    from metalpipe_spark.sinks.writers import upsert_parquet

    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "b", 30.0)],
        "id int, part string, v double",
    )
    batch = spark.createDataFrame(
        [(2, None, 99.0), (4, "a", 40.0), (5, None, 50.0)],
        "id int, part string, v double",
    )
    path = str(tmp_path / "staged")
    upsert_parquet(initial, path, "id", "part")
    upsert_parquet(batch, path, "id", "part")
    assert not os.path.exists(path + "__stage")
    assert sorted(
        (r["id"], r["part"], r["v"]) for r in spark.read.parquet(path).collect()
    ) == [
        (1, "a", 10.0), (2, None, 99.0), (3, "b", 30.0),
        (4, "a", 40.0), (5, None, 50.0),
    ]

    path = str(tmp_path / "last_wins")
    schema = "id bigint, part string, v double, seq bigint"
    initial = spark.createDataFrame(
        [(1, None, 10.0, 0), (2, None, 20.0, 0), (3, "b", 30.0, 0)], schema
    )
    upsert_parquet(initial, path, "id", "part")
    batch = spark.createDataFrame(
        [(2, None, 50.0, 1), (2, None, 99.0, 2), (4, "b", 40.0, 1)], schema
    )
    upsert_parquet(batch, path, "id", "part", order_col="seq")
    rows = {
        r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert rows == {
        1: (None, 10.0),
        2: (None, 99.0),   # last-wins by seq
        3: ("b", 30.0),
        4: ("b", 40.0),
    }


def test_upsert_parquet_heals_crash_between_aside_and_promote(spark, tmp_path):
    """The ADVICE r7 data-loss window: a crash after a touched partition's
    old dir was moved aside but before the stage copy was promoted leaves
    the partition's only complete copy in the stage.  A replayed upsert
    must self-heal BEFORE merging — otherwise it merges against a target
    missing that partition and permanently drops its non-batch rows."""
    import os
    import shutil

    from metalpipe_spark.sinks.writers import upsert_parquet

    path = str(tmp_path / "crash_target")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], ["id", "part", "v"]
    )
    upsert_parquet(initial, path, "id", "part")
    # Crash state: partition a's target dir is gone; its complete copy
    # (here: the pre-batch content, which is what a mid-crash stage holds
    # after the previous batch's merge) sits in the stage.
    stage = path + "__stage"
    os.makedirs(stage)
    shutil.move(os.path.join(path, "part=a"), os.path.join(stage, "part=a"))
    # Replayed batch updates id=2 in partition a.
    batch = spark.createDataFrame([(2, "a", 99.0)], ["id", "part", "v"])
    upsert_parquet(batch, path, "id", "part")
    rows = {r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    # id=1 is the non-batch row the pre-fix code lost.
    assert rows == {1: ("a", 10.0), 2: ("a", 99.0), 3: ("b", 30.0)}
    assert not os.path.exists(stage)


def test_upsert_parquet_heals_set_aside_old_copies(spark, tmp_path):
    """Hidden .upsert_old__ debris: deleted when the live dir exists
    (crash after a successful promote), restored when it does not."""
    import os
    import shutil

    from metalpipe_spark.sinks.writers import upsert_parquet

    path = str(tmp_path / "aside_target")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (3, "b", 30.0)], ["id", "part", "v"]
    )
    upsert_parquet(initial, path, "id", "part")

    # Case 1: live dir exists -> stale aside debris is removed.
    shutil.copytree(
        os.path.join(path, "part=a"), os.path.join(path, ".upsert_old__part=a")
    )
    upsert_parquet(
        spark.createDataFrame([(3, "b", 31.0)], ["id", "part", "v"]),
        path, "id", "part",
    )
    assert not os.path.exists(os.path.join(path, ".upsert_old__part=a"))

    # Case 2: live dir missing and no stage copy -> aside is restored.
    shutil.move(
        os.path.join(path, "part=a"), os.path.join(path, ".upsert_old__part=a")
    )
    upsert_parquet(
        spark.createDataFrame([(3, "b", 32.0)], ["id", "part", "v"]),
        path, "id", "part",
    )
    rows = {r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", 10.0), 3: ("b", 32.0)}


def test_mysql_type_strings_map_to_spark_types(spark):
    """The reference's MySQL type-string mapping (data_structures.py:
    76-106) realized as Spark DataTypes: display widths parse away,
    tinyint(1) is boolean, unsigned widens, unknown falls back to
    string (the reference's lenient default), and a schema built from
    DDL strings round-trips data through createDataFrame."""
    from pyspark.sql import types as T

    from metalpipe_spark.sources.readers import (
        mysql_schema_to_struct,
        mysql_type_to_spark,
    )

    assert mysql_type_to_spark("int(8)") == T.IntegerType()
    assert mysql_type_to_spark("INT") == T.IntegerType()
    assert mysql_type_to_spark("varchar(40)") == T.StringType()
    assert mysql_type_to_spark("date") == T.DateType()
    assert mysql_type_to_spark("datetime") == T.TimestampType()
    assert mysql_type_to_spark("tinyint(1)") == T.BooleanType()
    assert mysql_type_to_spark("tinyint(4)") == T.ByteType()
    assert mysql_type_to_spark("bigint") == T.LongType()
    assert mysql_type_to_spark("bigint unsigned") == T.DecimalType(20, 0)
    assert mysql_type_to_spark("int unsigned") == T.LongType()
    # review fix: the two smallest unsigned types widen too (their
    # signed Spark types cannot hold the MySQL unsigned domain)
    assert mysql_type_to_spark("tinyint unsigned") == T.ShortType()
    assert mysql_type_to_spark("tinyint(3) unsigned") == T.ShortType()
    assert mysql_type_to_spark("smallint unsigned") == T.IntegerType()
    assert mysql_type_to_spark("smallint(5) unsigned") == T.IntegerType()
    assert mysql_type_to_spark("decimal(12,4)") == T.DecimalType(12, 4)
    assert mysql_type_to_spark("blob") == T.BinaryType()
    assert mysql_type_to_spark("no_such_type") == T.StringType()

    schema = mysql_schema_to_struct(
        [("id", "int(11)"), ("name", "varchar(64)"), ("joined", "date")]
    )
    import datetime

    df = spark.createDataFrame(
        [(1, "ada", datetime.date(2020, 1, 2))], schema
    )
    assert df.schema == schema
    assert df.head()["name"] == "ada"


def test_jsonl_reader_explicit_schema_and_dead_letter(spark, tmp_path):
    """jsonl_reader: explicit DDL schema (no inference pass), malformed
    lines dead-letter whole into the corrupt column instead of failing
    the job, and well-formed rows parse typed."""
    from metalpipe_spark.sources.readers import jsonl_reader

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha beta"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "gamma"}\n'
    )
    df = jsonl_reader(
        spark, str(p), schema="doc_id long, text string", corrupt_col="_bad"
    )
    rows = {r["doc_id"]: (r["text"], r["_bad"]) for r in df.collect()}
    assert rows[1] == ("alpha beta", None)
    assert rows[2] == ("gamma", None)
    assert rows[None][1] == "this is not json"

    # Without a corrupt column: malformed lines -> all-NULL rows, good
    # lines unaffected (the PERMISSIVE default, still never a job kill).
    plain = jsonl_reader(spark, str(p), schema="doc_id long, text string")
    got = {(r["doc_id"], r["text"]) for r in plain.collect()}
    assert got == {(1, "alpha beta"), (2, "gamma"), (None, None)}


def test_jsonl_reader_yaml_node(spark, tmp_path):
    """The JSONLReader node class wires the reader into YAML pipelines."""
    from metalpipe_spark.plans.pipeline import compile_pipeline

    p = tmp_path / "in.jsonl"
    p.write_text('{"k": "a", "v": 1}\n{"k": "b", "v": 2}\n')
    cfg = {
        "pipeline_name": "jsonl_test",
        "nodes": {
            "src": {
                "class": "JSONLReader",
                "options": {"path": str(p), "schema": "k string, v long"},
            },
        },
    }
    out = compile_pipeline(spark, cfg)
    rows = sorted((r["k"], r["v"]) for r in out.dataframes["src"].collect())
    assert rows == [("a", 1), ("b", 2)]


def test_load_arpa_roundtrip_and_ngram_logprob_dropin(spark, tmp_path):
    """load_arpa: tiny synthetic KenLM .arpa -> (ngram, order, logprob,
    backoff) table; order filter; header-count validation; and the
    loaded bigram slice drops into ngram_logprob identically to the
    dict form."""
    import pytest

    from metalpipe_spark.operators.text import ngram_logprob
    from metalpipe_spark.sources.readers import load_arpa

    arpa = tmp_path / "tiny.arpa"
    arpa.write_text(
        "\n\\data\\\n"
        "ngram 1=4\n"
        "ngram 2=3\n"
        "\n\\1-grams:\n"
        "-1.25\t<unk>\n"
        "-0.5\thello\t-0.30103\n"
        "-0.75\tworld\t-0.2\n"
        "-2.0\t42\n"          # numeric WORD, no backoff — the ambiguity case
        "\n\\2-grams:\n"
        "-0.25\thello world\n"
        "-1.5\tworld hello\t-0.1\n"
        "-0.9\thello 42\n"
        "\n\\end\\\n"
    )

    full = load_arpa(spark, str(arpa))
    rows = {(r["ngram"], r["order"]): r for r in full.collect()}
    assert len(rows) == 7
    assert rows[("hello", 1)]["logprob"] == -0.5
    assert rows[("hello", 1)]["backoff"] == -0.30103
    assert rows[("42", 1)]["backoff"] is None      # numeric word != backoff
    assert rows[("hello world", 2)]["backoff"] is None
    assert rows[("world hello", 2)]["backoff"] == -0.1

    bi = load_arpa(spark, str(arpa), order=2)
    assert {r["ngram"] for r in bi.collect()} == {
        "hello world", "world hello", "hello 42"
    }

    docs = spark.createDataFrame(
        [(1, "hello world hello"), (2, "zzz zzz")], ["doc_id", "text"]
    )
    via_table = ngram_logprob(docs, bi.select("ngram", "logprob"), n=2)
    via_dict = ngram_logprob(
        docs, {"hello world": -0.25, "world hello": -1.5, "hello 42": -0.9}, n=2
    )
    assert sorted(map(tuple, via_table.collect())) == sorted(
        map(tuple, via_dict.collect())
    )

    with pytest.raises(ValueError, match="order=3 not in model"):
        load_arpa(spark, str(arpa), order=3)

    truncated = tmp_path / "trunc.arpa"
    truncated.write_text(
        "\\data\\\nngram 1=2\n\n\\1-grams:\n-1.0\thello\n\n\\end\\\n"
    )
    with pytest.raises(ValueError, match="truncated or corrupt"):
        load_arpa(spark, str(truncated))

    # Header-less ARPA: no \data\ section means the declared-count check
    # can't fire — order= pointing at a missing section must still raise
    # instead of silently returning an empty (weaker) model.
    headerless = tmp_path / "noheader.arpa"
    headerless.write_text(
        "\\1-grams:\n-1.0\thello\n-0.5\tworld\n\n\\end\\\n"
    )
    assert load_arpa(spark, str(headerless), order=1).count() == 2
    with pytest.raises(ValueError, match="header-less"):
        load_arpa(spark, str(headerless), order=2)
