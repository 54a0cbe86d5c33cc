"""Trained hashed multiclass language-ID (train → export → codegen-serve).

``detect_language`` (operators/text.py:77) is a marker-word heuristic —
honest, zero-dependency, but hand-tuned.  This module closes the gap
with the engine's own model pattern (``train_hashed_quality_classifier``,
text.py:724) taken multiclass: a softmax logistic regression over
hashing-trick token features, trained distributed with ``pyspark.ml``,
exported as plain float lists, and SERVED as one pure-codegen/HOF fold —
no Python in the hot path, SQL-replayable by the DuckDB oracle.

The corpus's ``text`` column carries no language signal (every language
label gets the same synthetic vocabulary), so training and evaluation
run over :func:`synthetic_multilingual_text` — a deterministic
md5-driven sentence generator over per-language common-word lists,
expressible identically in Spark and DuckDB (the URL-family pattern:
synthesize the fixture inside the query, bit-identically, in both
engines).  Chinese is generated as space-separated character bigrams so
the whitespace tokenizer applies; REAL unsegmented text routes to the
char-BIGRAM model below (round 13) — :func:`detect_language_routed`
dispatches on the kana/hangul/han character fraction, so segmented and
unsegmented corpora share one entry point.  The marker heuristic
(``CHAR_MARKERS``) remains the zero-dependency fallback.

Pinned production weights live in ``langid_weights.py`` (generated by
``scripts/train_langid.py``; accuracy floor pinned in
tests/test_langid.py against the marker heuristic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metalpipe_spark.operators.dedup import _hash64

LANGID_CLASSES = [
    "ar", "de", "en", "es", "fr", "hi", "ja", "ko", "pt", "ru", "zh",
]

# 20 genuinely common words per language.  Deliberate cross-language
# collisions ('la' fr/es, 'de'/'en' es words vs language codes) keep the
# marker heuristic imperfect and the comparison honest.
LANG_WORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it",
           "for", "was", "on", "are", "with", "his", "they", "at", "be",
           "this", "have"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ich", "ein",
           "mit", "auf", "für", "von", "dem", "den", "sie", "wir",
           "auch", "aber", "eine", "nach"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que",
           "pour", "qui", "sur", "pas", "avec", "par", "mais", "nous",
           "vous", "plus", "sont"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del",
           "las", "por", "con", "para", "una", "su", "es", "al", "lo",
           "como", "pero"],
    "zh": ["的一", "是不", "了人", "我在", "有他", "这中", "大来", "上国",
           "个到", "说们", "为子", "和你", "地出", "道也", "时年", "得就",
           "那要", "下以", "生会", "自着"],
    # Round-12 widening (VERDICT r11 task 6): Cyrillic, Arabic,
    # Devanagari, Japanese kana, Hangul, plus Portuguese as the hard
    # Latin-confusable case (pt/es share roughly half their function
    # words — the script features can't help there, only tokens can).
    "ru": ["и", "в", "не", "на", "я", "что", "он", "с", "как", "это",
           "по", "но", "они", "мы", "за", "вы", "так", "же", "от", "к"],
    "ar": ["في", "من", "على", "أن", "إلى", "هذا", "التي", "كان", "لم",
           "ما", "هو", "لا", "مع", "عن", "أو", "قد", "كل", "بين",
           "هذه", "ذلك"],
    "hi": ["के", "का", "एक", "में", "की", "है", "यह", "और", "से",
           "हैं", "को", "पर", "इस", "होता", "कि", "जो", "कर", "तो",
           "गया", "करने"],
    "ja": ["の", "に", "は", "を", "た", "が", "で", "て", "と", "し",
           "れ", "さ", "ある", "いる", "も", "する", "から", "な",
           "こと", "として"],
    "ko": ["이", "그", "저", "것", "수", "들", "및", "에서", "그리고",
           "하지만", "또는", "있다", "없다", "하다", "되다", "않다",
           "같다", "때문", "우리", "당신"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para",
           "é", "com", "não", "uma", "os", "no", "se", "na", "por",
           "mais"],
}

# Unicode script blocks as LITERAL-character ranges — the same pattern
# string is a valid character class in Java regex (Spark), RE2 (DuckDB)
# and Python ``re`` (the trainer), so all three compute the identical
# count.  All ranges are BMP, so Spark's UTF-16 ``length`` equals the
# other engines' codepoint counts.
SCRIPT_BLOCKS: list[tuple[str, str]] = [
    ("latin", "A-Za-z\u00C0-\u024F"),
    ("cyrillic", "\u0400-\u04FF"),
    ("arabic", "\u0600-\u06FF"),
    ("devanagari", "\u0900-\u097F"),
    ("kana", "\u3040-\u30FF"),
    ("hangul", "\uAC00-\uD7A3\u1100-\u11FF"),
    ("han", "\u4E00-\u9FFF"),
]


# Explicit ASCII whitespace class instead of \s: the THREE engines
# disagree on \s (Java: ASCII incl \x0B; RE2: ASCII excl \x0B;
# Python re: full Unicode incl NBSP/U+3000) — one literal class makes
# the trainer, the serving regexp and the DuckDB oracle strip the
# identical characters.  Non-ASCII whitespace intentionally counts as
# "not in any script block" on all three, which only shrinks no
# numerator (no script block contains it) — the denominator is the
# part that must agree.
_WS_CLASS = r"[ \t\n\x0B\f\r]"


def script_fractions_sql(text_expr: str) -> list[str]:
    """Per-script character fractions of the non-whitespace text, as
    DuckDB list elements — the oracle mirror of the serving regexps
    (:func:`_spark_fraction_sql`).  RE2 needs the 'g' flag: its
    regexp_replace defaults to first-match-only."""
    denom = (
        f"greatest(length(regexp_replace({text_expr}, '{_WS_CLASS}', '', 'g')), 1)"
        "::DOUBLE"
    )
    return [
        f"(length(regexp_replace({text_expr}, '[^{chars}]', '', 'g'))"
        f"::DOUBLE / {denom})"
        for _, chars in SCRIPT_BLOCKS
    ]

_HASH_SQL = "('0x' || substr(md5({arg}), 1, 15))::BIGINT"


def _sarray_lit(items: list[str]) -> Column:
    """``array<string>`` literal as ONE SQL-text expression: one JVM
    parse instead of one py4j round-trip per element (the fixture
    generators build one per language per plan)."""
    quoted = ", ".join("'" + it.replace("\\", "\\\\").replace("'", "''") + "'" for it in items)
    return F.expr(f"array({quoted})")


def synthetic_multilingual_text(
    lang_col: str = "lang", id_col: str = "doc_id", salt: str = "v1"
) -> Column:
    """Deterministic synthetic sentence in the row's language: 8-16
    tokens drawn uniformly (md5 of ``id || salt || position``) from the
    language's word list.  Pure codegen + HOF — no RNG, no UDF — and
    byte-identical to :func:`synthetic_multilingual_sql`."""
    d = F.col(id_col).cast("string")
    length = (
        F.pmod(_hash64(F.concat(d, F.lit(f"{salt}:len"))), F.lit(9)) + 8
    ).cast("int")

    def sentence(words: list[str]) -> Column:
        v = len(words)
        warr = _sarray_lit(words)

        def pick(i: Column) -> Column:
            h = _hash64(F.concat(d, F.lit(f"{salt}:"), i.cast("string")))
            return F.element_at(warr, F.pmod(h, F.lit(v)).cast("int") + 1)

        return F.array_join(
            F.transform(F.sequence(F.lit(1), length), pick), " "
        )

    lang = F.col(lang_col)
    expr = None
    for code in LANGID_CLASSES[:-1]:
        branch = sentence(LANG_WORDS[code])
        expr = (
            F.when(lang == code, branch)
            if expr is None
            else expr.when(lang == code, branch)
        )
    return expr.otherwise(sentence(LANG_WORDS[LANGID_CLASSES[-1]]))


def synthetic_multilingual_sql(
    lang_col: str = "lang", id_col: str = "doc_id", salt: str = "v1"
) -> str:
    """DuckDB expression mirroring :func:`synthetic_multilingual_text`."""
    d = f"{id_col}::VARCHAR"
    lh = _HASH_SQL.format(arg=f"{d} || '{salt}:len'")
    length = f"(({lh}) % 9) + 8"

    def sentence(words: list[str]) -> str:
        v = len(words)
        warr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ph = _HASH_SQL.format(arg=f"{d} || '{salt}:' || i::VARCHAR")
        return (
            f"array_to_string(list_transform(range(1, ({length}) + 1), "
            f"i -> ({warr})[(({ph}) % {v}) + 1]), ' ')"
        )

    branches = " ".join(
        f"WHEN '{code}' THEN {sentence(LANG_WORDS[code])}"
        for code in LANGID_CLASSES[:-1]
    )
    return (
        f"CASE {lang_col} {branches} "
        f"ELSE {sentence(LANG_WORDS[LANGID_CLASSES[-1]])} END"
    )


def detect_language_model(
    text: str,
    classes: list[str] | None = None,
    weights: dict[str, list[float]] | None = None,
    biases: dict[str, float] | None = None,
    script_weights: dict[str, list[float]] | None = None,
) -> Column:
    """Predicted language code of the ``text`` column: argmax over the
    rounded per-class logits ``bias_c + sum_j sw_c[j]*frac_j + (sum over
    whitespace tokens of W_c[h(tok) mod D]) / n``, first class wins ties
    (``array_position`` returns the first index — the same deterministic
    tie-break in DuckDB's ``list_position``).  Defaults to the pinned
    trained weights (langid_weights.py); a model without
    ``script_weights`` drops the script terms."""
    if classes is None:
        classes, weights, biases, script_weights = _langid_defaults()
    return F.expr(
        _token_pred_sql(f"`{text}`", classes, weights, biases, script_weights)
    )


def langid_logits_sql(
    toks_expr: str,
    classes: list[str],
    weights: dict[str, list[float]],
    biases: dict[str, float],
    round_to: int = 6,
    script_weights: dict[str, list[float]] | None = None,
    text_expr: str = "text",
) -> str:
    """DuckDB list expression of the per-class logits over a token-array
    expression (usually a CTE column, so the weight literals inline
    exactly once).  ``list_reduce`` starts at the first element —
    IEEE-identical to Spark's ``0.0 + w1`` fold seed."""
    dim = len(weights[classes[0]])
    fracs = script_fractions_sql(text_expr) if script_weights else []
    raws = []
    for c in classes:
        warr = "[" + ", ".join(f"'{float(v)!r}'::DOUBLE" for v in weights[c]) + "]"
        h = _HASH_SQL.format(arg="tok")
        base = f"'{float(biases[c])!r}'::DOUBLE"
        if script_weights:
            # Same left-to-right order as the Spark fold: SQL + is
            # left-associative and * binds tighter, so the plain
            # rendering parses to ((b + w1*f1) + ...) + reduce/n.
            for j, f in enumerate(fracs):
                base += f" + '{float(script_weights[c][j])!r}'::DOUBLE * {f}"
        raws.append(
            f"round({base} + "
            f"list_reduce(list_transform({toks_expr}, "
            f"tok -> ({warr})[(({h}) % {dim}) + 1]), (a, x) -> a + x) "
            f"/ greatest(len({toks_expr}), 1), {round_to})"
        )
    return "[" + ", ".join(raws) + "]"


def langid_pred_sql(logits_expr: str, classes: list[str]) -> str:
    """DuckDB argmax over a logits list: first class wins ties
    (``list_position`` returns the first index, matching Spark's
    ``array_position``)."""
    carr = "[" + ", ".join(f"'{c}'" for c in classes) + "]"
    return (
        f"({carr})[list_position({logits_expr}, "
        f"list_aggregate({logits_expr}, 'max'))]"
    )


def _fit_hashed_softmax(
    df: DataFrame,
    label_col: str,
    text_col: str,
    dim: int,
    max_iter: int,
    reg_param: float,
    featurize_text,
) -> tuple[
    list[str],
    dict[str, list[float]],
    dict[str, float],
    dict[str, list[float]],
]:
    """The shared train scaffold for both hashed softmax models (token
    and char-bigram): distinct-label indexing, Arrow-batched
    featurization (``featurize_text(text) -> dim + n_script floats``),
    ``pyspark.ml`` multinomial L-BFGS, and the weights/script_weights/
    biases unpack the serving folds consume.  One place to change the
    training recipe — the two models must never silently train
    differently."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    classes = sorted(
        r[0] for r in df.select(label_col).distinct().collect() if r[0]
    )
    idx = {c: i for i, c in enumerate(classes)}
    d = dim

    def featurize(batches):
        import pandas as pd

        for pdf in batches:
            feats, labels = [], []
            for text, label in zip(pdf[text_col], pdf[label_col]):
                feats.append(featurize_text(text))
                labels.append(float(idx[label]))
            yield pd.DataFrame({"features": feats, "label": labels})

    train = (
        df.select(text_col, label_col)
        .where(F.col(text_col).isNotNull() & F.col(label_col).isNotNull())
        .mapInPandas(featurize, schema="features array<double>, label double")
        .select(array_to_vector("features").alias("features"), "label")
    )
    lr = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, family="multinomial"
    )
    model = lr.fit(train)
    cm = model.coefficientMatrix.toArray()  # C x (D + n_scripts)
    iv = model.interceptVector.toArray()
    weights = {c: [float(v) for v in cm[i][:d]] for c, i in idx.items()}
    script_weights = {
        c: [float(v) for v in cm[i][d:]] for c, i in idx.items()
    }
    biases = {c: float(iv[i]) for c, i in idx.items()}
    return classes, weights, biases, script_weights


def train_hashed_langid(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    dim: int = 256,
    max_iter: int = 200,
    reg_param: float = 1e-3,
) -> tuple[
    list[str],
    dict[str, list[float]],
    dict[str, float],
    dict[str, list[float]],
]:
    """Fit the multiclass softmax the serving fold evaluates.  Features
    are the SAME hashed representation (count of tokens per md5 bucket
    over n), so the exported ``(classes, weights, biases)`` drop into
    :func:`detect_language_model` and reproduce the model's argmax
    bit-for-bit — hashed token counts/n (D buckets) plus the
    ``SCRIPT_BLOCKS`` character fractions (the same Python ``re``
    classes the serving regexps use, so the trained coefficients see
    the identical feature values the fold will compute).  Returns
    ``(classes, weights, biases, script_weights)``.  Distributed
    L-BFGS via ``pyspark.ml``; featurization is Arrow-batched
    ``mapInPandas`` — fine on the TRAINING path, which is orders of
    magnitude smaller than serving corpora."""
    import hashlib
    import re

    d = dim
    script_res = [re.compile(f"[^{chars}]") for _, chars in SCRIPT_BLOCKS]
    ws_re = re.compile(_WS_CLASS)

    def featurize_text(text: str) -> list[float]:
        # Mirror Spark's split(text, '\s+') exactly (limit=-1:
        # leading/trailing whitespace yields empty tokens).
        toks = re.split(r"\s+", text)
        x = [0.0] * d
        for t in toks:
            j = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % d
            x[j] += 1.0
        n = max(len(toks), 1)
        # Script fractions mirror _spark_script_fracs_sql() exactly:
        # BMP-only fixture, so len() == Spark's UTF-16 length.
        nonws = ws_re.sub("", text)
        denom = float(max(len(nonws), 1))
        fr = [len(sr.sub("", nonws)) / denom for sr in script_res]
        return [v / n for v in x] + fr

    return _fit_hashed_softmax(
        df, label_col, text_col, dim, max_iter, reg_param, featurize_text
    )


# ---- unsegmented CJK (VERDICT r12 task 4) ---------------------------
# The token model above is whitespace-tokenized: real Chinese/Japanese
# prose has no spaces, so every unsegmented document becomes ONE
# out-of-vocabulary token and the model sees only script fractions —
# which separate hangul (ko) and kana-bearing (ja) text but cannot
# split zh from the Han portion of ja.  Character-BIGRAM hashed
# features need no tokenizer: the same md5-fold serving pattern over
# ``substr(s, i, 2)`` grams.  zh/ja share Han characters in the
# fixture inventories below (as real Japanese mixes kanji into kana),
# so the trained model must learn bigram DISTRIBUTIONS — script
# fractions alone are deliberately insufficient.

CJK_CLASSES = ["ja", "ko", "zh"]

# Character inventories (all BMP, so Spark UTF-16 lengths == DuckDB/
# Python codepoint counts).  ja deliberately includes Han characters
# that also appear in zh (日本人中国学生年): the honest confusable.
CJK_CHARS: dict[str, str] = {
    "zh": (
        "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年"
        "得就那要下以生会自着去之过家学对日本"
    ),
    "ja": (
        "のにはをたがでてとしれさいうくまかこつんすみよらりるろわねあ"
        "おえそけせどなひふへほ日本人中国学生年"
    ),
    "ko": (
        "이그저것수들및에서고하지만또는있없다우리당신때문같국한사람년"
        "월일시분가나도로말보고서울때까지"
    ),
}


def synthetic_cjk_text(
    lang_col: str = "lang", id_col: str = "doc_id", salt: str = "v1"
) -> Column:
    """Deterministic UNSEGMENTED synthetic text in the row's language:
    12-24 characters drawn uniformly (md5 of ``id || salt || position``)
    from the language's character inventory, concatenated with NO
    whitespace.  Non-CJK language codes fall through to the LAST CJK
    class (callers gate with a CASE on the lang column); byte-identical
    to :func:`synthetic_cjk_sql`."""
    d = F.col(id_col).cast("string")
    length = (
        F.pmod(_hash64(F.concat(d, F.lit(f"{salt}:clen"))), F.lit(13)) + 12
    ).cast("int")

    def sentence(chars: str) -> Column:
        v = len(chars)
        carr = _sarray_lit(list(chars))

        def pick(i: Column) -> Column:
            h = _hash64(F.concat(d, F.lit(f"{salt}:c"), i.cast("string")))
            return F.element_at(carr, F.pmod(h, F.lit(v)).cast("int") + 1)

        return F.array_join(
            F.transform(F.sequence(F.lit(1), length), pick), ""
        )

    lang = F.col(lang_col)
    expr = None
    for code in CJK_CLASSES[:-1]:
        branch = sentence(CJK_CHARS[code])
        expr = (
            F.when(lang == code, branch)
            if expr is None
            else expr.when(lang == code, branch)
        )
    return expr.otherwise(sentence(CJK_CHARS[CJK_CLASSES[-1]]))


def synthetic_cjk_sql(
    lang_col: str = "lang", id_col: str = "doc_id", salt: str = "v1"
) -> str:
    """DuckDB expression mirroring :func:`synthetic_cjk_text`."""
    d = f"{id_col}::VARCHAR"
    lh = _HASH_SQL.format(arg=f"{d} || '{salt}:clen'")
    length = f"(({lh}) % 13) + 12"

    def sentence(chars: str) -> str:
        v = len(chars)
        carr = "[" + ", ".join(f"'{c}'" for c in chars) + "]"
        ph = _HASH_SQL.format(arg=f"{d} || '{salt}:c' || i::VARCHAR")
        return (
            f"array_to_string(list_transform(range(1, ({length}) + 1), "
            f"i -> ({carr})[(({ph}) % {v}) + 1]), '')"
        )

    branches = " ".join(
        f"WHEN '{code}' THEN {sentence(CJK_CHARS[code])}"
        for code in CJK_CLASSES[:-1]
    )
    return (
        f"CASE {lang_col} {branches} "
        f"ELSE {sentence(CJK_CHARS[CJK_CLASSES[-1]])} END"
    )


def detect_language_cjk(
    text: str,
    classes: list[str] | None = None,
    weights: dict[str, list[float]] | None = None,
    biases: dict[str, float] | None = None,
    script_weights: dict[str, list[float]] | None = None,
) -> Column:
    """Predicted CJK language code of the unsegmented ``text`` column:
    argmax over the rounded logits ``bias_c + sum_j sw_c[j]*frac_j +
    (sum over char bigrams of the whitespace-stripped text of
    W_c[h(gram) mod D]) / n_grams``, first class wins ties.  Defaults to
    the pinned trained weights (langid_weights.py)."""
    if classes is None:
        classes, weights, biases, script_weights = _cjk_defaults()
    return F.expr(
        _cjk_pred_sql(f"`{text}`", classes, weights, biases, script_weights)
    )


# han + kana + hangul as ONE character class (route predicate).
_CJK_BLOCK_CHARS = "".join(
    chars
    for name, chars in SCRIPT_BLOCKS
    if name in ("kana", "hangul", "han")
)

ROUTE_THRESHOLD = 0.3


def cjk_fraction_sql(text_expr: str) -> str:
    denom = (
        f"greatest(length(regexp_replace({text_expr}, '{_WS_CLASS}', '', 'g')), 1)"
        "::DOUBLE"
    )
    return (
        f"(length(regexp_replace({text_expr}, '[^{_CJK_BLOCK_CHARS}]', '', 'g'))"
        f"::DOUBLE / {denom})"
    )


def detect_language_routed(text: str) -> Column:
    """Language ID that covers SEGMENTED and UNSEGMENTED text: documents
    whose kana/hangul/han character fraction reaches
    ``ROUTE_THRESHOLD`` go to the char-bigram CJK model
    (:func:`detect_language_cjk`); everything else to the
    whitespace-token model (:func:`detect_language_model`).  The CASE
    evaluates only the taken branch per row, so Latin-script corpora
    pay one extra regexp, not the bigram fold.

    Both serving trees and the route predicate are rendered as ONE SQL
    text that the JVM parses in one call (r17: building the same tree
    Column by Column was ~1.3 s of driver py4j per plan, the whole
    local cost of the langid rows)."""
    txt = f"`{text}`"
    frac = _spark_fraction_sql(f"coalesce({txt}, '')", _CJK_BLOCK_CHARS)
    cjk = _cjk_pred_sql(txt, *_cjk_defaults())
    tok = _token_pred_sql(txt, *_langid_defaults())
    return F.expr(
        f"CASE WHEN {frac} >= "
        f"{float(ROUTE_THRESHOLD)!r}D THEN {cjk} ELSE {tok} END"
    )


def _langid_defaults():
    from metalpipe_spark.operators.langid_weights import (
        LANGID_BIASES,
        LANGID_SCRIPT_WEIGHTS,
        LANGID_TRAINED_CLASSES,
        LANGID_WEIGHTS,
    )

    return (
        LANGID_TRAINED_CLASSES,
        LANGID_WEIGHTS,
        LANGID_BIASES,
        LANGID_SCRIPT_WEIGHTS,
    )


def _cjk_defaults():
    from metalpipe_spark.operators.langid_weights import (
        CJK_BIASES,
        CJK_SCRIPT_WEIGHTS,
        CJK_TRAINED_CLASSES,
        CJK_WEIGHTS,
    )

    return CJK_TRAINED_CLASSES, CJK_WEIGHTS, CJK_BIASES, CJK_SCRIPT_WEIGHTS


def _spark_sql_str(s: str) -> str:
    """Spark-SQL string literal whose UNESCAPED value is exactly ``s``
    (the default parser processes backslash escapes inside quotes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _spark_hash64_sql(arg: str) -> str:
    """Spark-SQL text of ``dedup._hash64``'s md5 path — same functions,
    same casts, so the parsed tree evaluates bit-identically."""
    return f"CAST(conv(substring(md5({arg}), 1, 15), 16, 10) AS BIGINT)"


def _spark_fraction_sql(txt: str, chars: str) -> str:
    """Fraction of the non-whitespace characters of ``txt`` that fall in
    the character class ``[chars]`` — one ``regexp_replace`` + ``length``,
    no UDF.  Cast placement mirrors the trainer and the DuckDB oracle:
    numerator length cast to double; denominator greatest of ints, then
    cast."""
    denom = (
        f"CAST(greatest(length(regexp_replace({txt}, "
        f"{_spark_sql_str(_WS_CLASS)}, '')), 1) AS DOUBLE)"
    )
    return (
        f"CAST(length(regexp_replace({txt}, "
        f"{_spark_sql_str('[^' + chars + ']')}, '')) AS DOUBLE)"
        f" / {denom}"
    )


def _spark_script_fracs_sql(txt: str) -> list[str]:
    """Per-script character fractions (one per ``SCRIPT_BLOCKS`` entry)
    — the model's robustness feature: an out-of-vocabulary Cyrillic
    token contributes nothing to the hashed sum, but its CHARACTERS
    still vote for the right script family."""
    return [_spark_fraction_sql(txt, chars) for _, chars in SCRIPT_BLOCKS]


def _dmatrix_sql(rows: list[list[float]]) -> str:
    """``array<array<double>>`` literal text.  ``repr(float)``
    round-trips exactly and Spark's ``D`` suffix parses it back to the
    identical double."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(v)!r}D" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def _argmax_spark_sql(logits_sql: str, classes: list[str]) -> str:
    """Class label at the logits argmax, first class wins ties — with
    the logits LET-BOUND through a single-element transform first:
    ``array_position(logits, array_max(logits))`` references the tree
    twice, and Spark's subexpression elimination EXCLUDES
    lambda-bearing trees (EquivalentExpressions rejects
    LambdaVariable), so the unbound form re-runs the entire serving
    fold per reference — measured 1.7x on the catalog rows."""
    carr = "array(" + ", ".join(_spark_sql_str(c) for c in classes) + ")"
    return (
        f"element_at(transform(array(named_struct('lg', {logits_sql})), "
        f"p -> element_at({carr}, "
        "CAST(array_position(p.lg, array_max(p.lg)) AS INT))), 1)"
    )


def _logits_fold_sql(
    grams: str,
    n: str,
    fracs: str,
    gram_var: str,
    var: str,
    classes: list[str],
    weights: dict[str, list[float]],
    biases: dict[str, float],
    script_weights: dict[str, list[float]] | None,
) -> str:
    """The hashed-softmax logits fold both models serve, as Spark-SQL
    text: ``logit_c = bias_c + sum_j sw_c[j]*frac_j + (sum over grams
    of W_c[h(gram) mod D]) / n``, rounded to 6 places (the oracle's
    ``round_to``).  ``grams`` is the gram-array SQL, ``n`` the
    gram-count SQL and ``fracs`` the script-fraction array SQL;
    ``gram_var`` names the hash lambda's variable and ``var`` the
    let-bound struct.

    Grams hash once (``transform``), then a single ``aggregate`` threads
    an array accumulator through ``zip_with``, so each class sums in
    gram order and the C-fold DuckDB oracle reproduces every bit.
    (total, fracs, n) are let-bound through a SINGLE-ELEMENT transform
    so each evaluates exactly once per row: the logits are one
    interpreted tree (HOF parent), where repeated subtrees are NOT
    common-subexpression-eliminated — an earlier formulation that
    referenced each frac once per class ran the 7 script regexps 7×C
    times per row and measured 3.2× slower on the catalog row.  Per
    class the addition order is bias, script terms in block order, then
    the gram term — the trainer and the oracle mirror it, and the
    rounding keeps the argmax off engine-varying last-bit noise.
    Without ``script_weights`` the script terms (and fracs) drop out."""
    dim = len(weights[classes[0]])
    idxs = (
        f"transform({grams}, {gram_var} -> "
        f"CAST(pmod({_spark_hash64_sql(gram_var)}, {dim}) AS INT) + 1)"
    )
    init = "array(" + ", ".join("0.0D" for _ in classes) + ")"
    w2 = _dmatrix_sql([weights[c] for c in classes])
    total = (
        f"aggregate({idxs}, {init}, (acc, ix) -> "
        f"zip_with(acc, {w2}, (a, wc) -> a + element_at(wc, ix)))"
    )
    outs = []
    for ci, c in enumerate(classes):
        base = f"{float(biases[c])!r}D"
        for j, sw in enumerate(script_weights[c] if script_weights else []):
            base += f" + {float(sw)!r}D * element_at({var}.f, {j + 1})"
        outs.append(
            f"round({base} + element_at({var}.t, {ci + 1}) / {var}.n, 6)"
        )
    f_field = f", 'f', {fracs}" if script_weights else ""
    return (
        f"element_at(transform(array(named_struct('t', {total}{f_field}, "
        f"'n', {n})), {var} -> array({', '.join(outs)})), 1)"
    )


def _token_pred_sql(
    txt: str,
    classes: list[str],
    weights: dict[str, list[float]],
    biases: dict[str, float],
    script_weights: dict[str, list[float]] | None,
) -> str:
    """Whitespace-token model: grams are ``split(text, '\\s+')``."""
    col = f"coalesce({txt}, '')"
    toks = f"split({col}, {_spark_sql_str(chr(92) + 's+')})"
    fracs = f"array({', '.join(_spark_script_fracs_sql(col))})"
    logits = _logits_fold_sql(
        toks, f"greatest(size({toks}), 1)", fracs, "t", "p",
        classes, weights, biases, script_weights,
    )
    return _argmax_spark_sql(logits, classes)


def _cjk_pred_sql(
    txt: str,
    classes: list[str],
    weights: dict[str, list[float]],
    biases: dict[str, float],
    script_weights: dict[str, list[float]] | None,
) -> str:
    """Char-bigram model.  An outer let-binding ``p`` holds the
    whitespace-stripped text ``s`` and the script fractions ``f`` (the
    regexp_replace would otherwise re-run per reference); the shared
    fold nests inside it as ``q``.  ``sequence(1, 0)`` would count DOWN
    in Spark, so strings shorter than 2 chars get an empty gram set
    (aggregate over [] returns the zero)."""
    col = f"coalesce({txt}, '')"
    stripped = f"regexp_replace({col}, {_spark_sql_str(_WS_CLASS)}, '')"
    fracs = ", ".join(_spark_script_fracs_sql(col))
    grams = (
        "CASE WHEN length(p.s) >= 2 THEN "
        "transform(sequence(1, length(p.s) - 1), i -> substring(p.s, i, 2)) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    inner = _logits_fold_sql(
        grams, "greatest(length(p.s) - 1, 1)", "p.f", "g", "q",
        classes, weights, biases, script_weights,
    )
    logits = (
        f"element_at(transform(array(named_struct('s', {stripped}, "
        f"'f', array({fracs}))), p -> {inner}), 1)"
    )
    return _argmax_spark_sql(logits, classes)


def cjk_logits_sql(
    classes: list[str],
    weights: dict[str, list[float]],
    biases: dict[str, float],
    script_weights: dict[str, list[float]],
    round_to: int = 6,
    stripped_expr: str = "s",
    text_expr: str = "text",
) -> str:
    """DuckDB list expression of the CJK char-bigram logits.
    ``stripped_expr`` must be a CTE column holding
    ``regexp_replace(text, _WS_CLASS, '', 'g')`` (bind it once).  An
    empty gram set contributes 0 (matching Spark's fold-over-empty
    returning the zero element)."""
    dim = len(weights[classes[0]])
    fracs = script_fractions_sql(text_expr)
    s = stripped_expr
    grams = (
        f"CASE WHEN length({s}) >= 2 THEN list_transform("
        f"range(1, length({s})), i -> substr({s}, i, 2)) "
        f"ELSE [] END"
    )
    raws = []
    for c in classes:
        warr = "[" + ", ".join(f"'{float(v)!r}'::DOUBLE" for v in weights[c]) + "]"
        h = _HASH_SQL.format(arg="g")
        base = f"'{float(biases[c])!r}'::DOUBLE"
        for j, fr in enumerate(fracs):
            base += f" + '{float(script_weights[c][j])!r}'::DOUBLE * {fr}"
        fold = (
            f"CASE WHEN length({s}) >= 2 THEN "
            f"list_reduce(list_transform({grams}, "
            f"g -> ({warr})[(({h}) % {dim}) + 1]), (a, x) -> a + x) "
            f"ELSE 0.0 END"
        )
        raws.append(
            f"round({base} + ({fold}) / greatest(length({s}) - 1, 1), "
            f"{round_to})"
        )
    return "[" + ", ".join(raws) + "]"


def train_hashed_cjk_langid(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    dim: int = 256,
    max_iter: int = 200,
    reg_param: float = 1e-3,
) -> tuple[
    list[str],
    dict[str, list[float]],
    dict[str, float],
    dict[str, list[float]],
]:
    """Fit the CJK char-bigram softmax the serving fold evaluates —
    features mirror :func:`detect_language_cjk` exactly (md5-hashed
    bigram counts over the whitespace-stripped text, normalized by the
    gram count, plus the ``SCRIPT_BLOCKS`` character fractions)."""
    import hashlib
    import re

    d = dim
    script_res = [re.compile(f"[^{chars}]") for _, chars in SCRIPT_BLOCKS]
    ws_re = re.compile(_WS_CLASS)

    def featurize_text(text: str) -> list[float]:
        s = ws_re.sub("", text)
        x = [0.0] * d
        for i in range(len(s) - 1):
            g = s[i : i + 2]
            j = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % d
            x[j] += 1.0
        n = max(len(s) - 1, 1)
        denom = float(max(len(s), 1))
        fr = [len(sr.sub("", s)) / denom for sr in script_res]
        return [v / n for v in x] + fr

    return _fit_hashed_softmax(
        df, label_col, text_col, dim, max_iter, reg_param, featurize_text
    )
