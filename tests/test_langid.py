"""Trained hashed multiclass language-ID (operators/langid.py).

Closes SURVEY's langid gap with the engine's train → export →
codegen-serve pattern; the marker heuristic (operators/text.py:77)
stays the zero-dependency fallback for unsegmented scripts."""

from __future__ import annotations

from pyspark.sql import functions as F

from metalpipe_spark.operators.langid import (
    LANGID_CLASSES,
    detect_language_model,
    synthetic_multilingual_text,
    train_hashed_langid,
)


def _fixture(spark, n: int, salt: str):
    carr = F.array(*[F.lit(c) for c in LANGID_CLASSES])
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.element_at(
                carr, (F.col("id") % len(LANGID_CLASSES)).cast("int") + 1
            ).alias("lang"),
        )
        .withColumn("text", synthetic_multilingual_text("lang", "doc_id", salt))
    )


def _accuracy(df, pred_col: str) -> float:
    n = df.count()
    return df.where(F.col(pred_col) == F.col("lang")).count() / n


def test_pinned_model_beats_marker_heuristic(spark):
    """The VERDICT r9 'done' bar: pinned-weight accuracy on a held-out
    fixture >= the marker heuristic's (the salt stream 'v1' is disjoint
    from the training salt 'train')."""
    from metalpipe_spark.operators.text import detect_language

    ev = _fixture(spark, 1000, "v1").cache()
    try:
        model_acc = _accuracy(
            ev.withColumn("p", detect_language_model("text")), "p"
        )
        marker_acc = _accuracy(
            ev.withColumn("p", detect_language("text")), "p"
        )
    finally:
        ev.unpersist()
    assert model_acc >= 0.98
    assert model_acc >= marker_acc


def test_train_then_serve_roundtrip(spark):
    """A freshly trained model's exported floats drop into the codegen
    serving fold and classify their own training distribution."""
    tr = _fixture(spark, 300, "roundtrip")
    classes, weights, biases, script_weights = train_hashed_langid(
        tr, dim=64, max_iter=60, reg_param=1e-3
    )
    assert classes == LANGID_CLASSES
    acc = _accuracy(
        tr.withColumn(
            "p",
            detect_language_model(
                "text", classes, weights, biases, script_weights
            ),
        ),
        "p",
    )
    assert acc >= 0.95


def test_serving_is_pure_plan(spark):
    """No Python evaluation in the serving path — the weights are plan
    literals and the fold is JVM HOF."""
    df = _fixture(spark, 10, "plan")
    plan = (
        df.select(detect_language_model("text"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_argmax_tie_breaks_to_first_class(spark):
    """Deterministic tie-break: equal logits pick the earliest class —
    the same first-index contract as DuckDB's list_position."""
    classes = ["aa", "bb"]
    weights = {"aa": [0.0, 0.0], "bb": [0.0, 0.0]}
    biases = {"aa": 0.5, "bb": 0.5}
    df = spark.createDataFrame([("x y",)], "text string")
    got = df.select(
        detect_language_model("text", classes, weights, biases).alias("p")
    ).first()["p"]
    assert got == "aa"


def test_null_text_is_total(spark):
    """NULL text coalesces to '' and still yields a prediction (the
    detect_language NULL contract)."""
    df = spark.createDataFrame([(None,)], "text string")
    assert (
        df.select(detect_language_model("text").alias("p")).first()["p"]
        in LANGID_CLASSES
    )


def test_script_fractions_match_trainer_and_sql(spark):
    """The three computations of the script-block fractions — the Spark
    codegen serving regexps, the trainer's Python ``re`` featurizer,
    and the DuckDB oracle — agree exactly on multi-script text."""
    import re

    import duckdb

    from metalpipe_spark.operators.langid import (
        _WS_CLASS,
        SCRIPT_BLOCKS,
        _spark_script_fracs_sql,
        script_fractions_sql,
    )

    samples = [
        "hello мир العالم दुनिया こんにちは 세계 世界",
        "just latin text",
        "   ",  # all-whitespace: denominator floor
        "mixé Ångström Ωmega",  # extended Latin + a Greek char (no block)
        "a\tb\x0bc\r\nмир",  # every _WS_CLASS char incl \x0B (the
        # character Java \s strips but RE2 \s keeps — the divergence
        # the explicit class exists to remove)
    ]
    df = spark.createDataFrame([(t,) for t in samples], "text string")
    fracs = F.expr("array(" + ", ".join(_spark_script_fracs_sql("text")) + ")")
    spark_rows = df.select("text", fracs.alias("fr")).collect()
    sql_exprs = ", ".join(
        f"{e} AS f{i}" for i, e in enumerate(script_fractions_sql("text"))
    )
    con = duckdb.connect()
    for row in spark_rows:
        t = row["text"]
        duck = con.execute(
            f"SELECT {sql_exprs} FROM (SELECT ? AS text)", [t]
        ).fetchone()
        nonws = re.sub(_WS_CLASS, "", t)  # the trainer's exact class
        denom = max(len(nonws), 1)
        py = [
            len(re.sub(f"[^{chars}]", "", nonws)) / denom
            for _, chars in SCRIPT_BLOCKS
        ]
        assert list(row["fr"]) == list(duck) == py, t


def test_new_scripts_classified_and_oov_falls_back_to_script(spark):
    """The round-12 widening: every non-Latin-script language in the
    fixture classifies correctly, and a text of PURELY out-of-vocabulary
    tokens in a script owned by one trained language still lands on that
    language — the hashed-token sum is ~0, so the script-block features
    decide (the robustness they were added for)."""
    ev = _fixture(spark, 660, "v2")
    per = {
        r["lang"]: r["acc"]
        for r in ev.withColumn("p", detect_language_model("text"))
        .groupBy("lang")
        .agg(F.avg((F.col("p") == F.col("lang")).cast("double")).alias("acc"))
        .collect()
    }
    for lang in ("ru", "ar", "hi", "ja", "ko", "zh"):
        assert per[lang] >= 0.95, (lang, per[lang])
    # Tokens chosen to hash into ALL-ZERO weight buckets (109 of 256
    # buckets are untouched by training; verified at test-authoring
    # time against the pinned weights), so the hashed-token sum is
    # exactly 0 and the script-block term alone must decide — the
    # designed fallback.  Tokens that COLLIDE with trained buckets get
    # no such guarantee (inherent to the hashing trick; the collision
    # rate is the dim knob's tradeoff).
    oov = spark.createDataFrame(
        [
            ("дерево река гора хлеб земля",),  # OOV Cyrillic, zero buckets
            ("火车 手机 桌子 医院 天气",),         # OOV Han, zero buckets
            ("ماء جبل مدينة سماء",),           # OOV Arabic, zero buckets
            ("かわ うみ そら はな",),             # OOV kana, zero buckets
        ],
        "text string",
    )
    got = [r["p"] for r in oov.withColumn(
        "p", detect_language_model("text")).collect()]
    assert got == ["ru", "zh", "ar", "ja"]


def _cjk_fixture(spark, n: int, salt: str):
    from metalpipe_spark.operators.langid import CJK_CLASSES, synthetic_cjk_text

    carr = F.array(*[F.lit(c) for c in CJK_CLASSES])
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.element_at(
                carr, (F.col("id") % len(CJK_CLASSES)).cast("int") + 1
            ).alias("lang"),
        )
        .withColumn("text", synthetic_cjk_text("lang", "doc_id", salt))
    )


def test_cjk_pinned_model_on_unsegmented_text(spark):
    """VERDICT r12 task 4 'done' bar: the pinned char-bigram model
    classifies UNSEGMENTED zh/ja/ko (no whitespace anywhere — the text
    the token model sees as one OOV token) at >= 0.98 held-out, where
    the marker heuristic scores ~1/3 (zh and ja share Han characters in
    the fixture, as real Japanese mixes kanji into kana)."""
    from metalpipe_spark.operators.langid import detect_language_cjk
    from metalpipe_spark.operators.text import detect_language

    ev = _cjk_fixture(spark, 600, "v1").cache()
    try:
        # fixture sanity: genuinely unsegmented
        assert ev.where(F.col("text").contains(" ")).count() == 0
        model_acc = _accuracy(
            ev.withColumn("p", detect_language_cjk("text")), "p"
        )
        marker_acc = _accuracy(ev.withColumn("p", detect_language("text")), "p")
    finally:
        ev.unpersist()
    assert model_acc >= 0.98
    assert marker_acc <= 0.75  # the gap the char-bigram model closes


def test_cjk_train_then_serve_roundtrip(spark):
    from metalpipe_spark.operators.langid import (
        CJK_CLASSES,
        detect_language_cjk,
        train_hashed_cjk_langid,
    )

    tr = _cjk_fixture(spark, 240, "roundtrip")
    classes, w, b, sw = train_hashed_cjk_langid(
        tr, dim=64, max_iter=60, reg_param=1e-3
    )
    assert classes == CJK_CLASSES
    acc = _accuracy(
        tr.withColumn("p", detect_language_cjk("text", classes, w, b, sw)),
        "p",
    )
    assert acc >= 0.95


def test_routed_detector_dispatches_by_script(spark):
    """The routing contract: segmented Latin/Cyrillic text gets the
    token model's answer verbatim; unsegmented CJK text gets the char
    model's; NULL stays total.  Both branches are pure JVM plans."""
    from metalpipe_spark.operators.langid import (
        detect_language_cjk,
        detect_language_routed,
    )

    seg = _fixture(spark, 120, "route").where(
        ~F.col("lang").isin("zh", "ja", "ko")
    )
    both = seg.select(
        "lang",
        detect_language_routed("text").alias("routed"),
        detect_language_model("text").alias("tok"),
    ).collect()
    assert all(r["routed"] == r["tok"] for r in both)

    cjk = _cjk_fixture(spark, 90, "route")
    both = cjk.select(
        "lang",
        detect_language_routed("text").alias("routed"),
        detect_language_cjk("text").alias("chr"),
    ).collect()
    assert all(r["routed"] == r["chr"] for r in both)
    assert sum(r["routed"] == r["lang"] for r in both) >= 0.95 * len(both)

    nul = spark.createDataFrame([(None,)], "text string")
    assert nul.select(detect_language_routed("text").alias("p")).first()["p"]

    plan = (
        cjk.select(detect_language_routed("text"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sql_text_literals_escape_and_roundtrip(spark):
    """The SQL-text literal builders (_sarray_lit/_dmatrix_sql — the
    py4j-economics fix) must round-trip hostile strings (quotes,
    backslashes, non-ASCII) and repr-exact doubles bit-for-bit; a
    future word list containing l'eau must not break the parser."""
    from metalpipe_spark.operators.langid import _dmatrix_sql, _sarray_lit

    hostile = ["l'eau", "back\\slash", "both\\'mixed", "日本語", "a  b"]
    df = spark.range(1)
    got = df.select(_sarray_lit(hostile).alias("a")).first()["a"]
    assert list(got) == hostile

    w = [[0.1 + 0.2, -1.5e-7, 123456.789012345, float(2**53 - 1)], [0.0, -0.0, 1e300, 5e-324]]
    got = df.select(F.expr(_dmatrix_sql(w)).alias("m")).first()["m"]
    assert [list(r) for r in got] == w  # exact doubles, not approximations


def test_serving_edge_cases_golden(spark):
    """Pinned labels on the degenerate inputs: NULL and '' coalesce to
    '', ' ' is one whitespace char, 'あ' is a 1-char string (the <2-char
    bigram guard) and 'x' a 1-char Latin token.  The default models'
    labels and a bias-only model without script weights (no script
    terms in the fold) are both pinned."""
    from metalpipe_spark.operators.langid import (
        detect_language_cjk,
        detect_language_routed,
    )

    edge = spark.createDataFrame(
        [(0, None), (1, ""), (2, " "), (3, "あ"), (4, "x")],
        "i int, text string",
    )
    rows = edge.orderBy("i").select(
        detect_language_routed("text").alias("routed"),
        detect_language_model("text").alias("tok"),
        detect_language_cjk("text").alias("chr"),
    ).collect()
    assert [r["routed"] for r in rows] == ["es", "es", "es", "ja", "pt"]
    assert [r["tok"] for r in rows] == ["es", "es", "es", "ja", "pt"]
    assert [r["chr"] for r in rows] == ["ko", "ko", "ko", "ja", "ko"]

    bias_only = detect_language_model(
        "text",
        ["aa", "bb"],
        {"aa": [0.0, 1.0], "bb": [0.5, 0.0]},
        {"aa": 0.5, "bb": 0.7},
    )
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "x y"), (3, "a b c d")], "i int, text string"
    )
    got = [r["p"] for r in df.orderBy("i").select(bias_only.alias("p")).collect()]
    assert got == ["bb", "bb", "aa", "aa"]
