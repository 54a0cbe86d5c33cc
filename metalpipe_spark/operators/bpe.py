"""Byte-pair-encoding training and encoding — vocabulary induction for
the training-data pipeline (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units").

Scale split, Spark-first: the CORPUS-scale work is exactly one
map-side-combined word count (the only pass that touches 100 TB); the
merge loop then iterates over the WORD-FREQUENCY table (bounded by
unique-word vocabulary, not corpus size), one shuffle per merge, with
the same lazy lineage truncation (``materialize``) the connected-
components loop uses.  Only the 1-row argmax ever reaches the driver
per iteration.  Encoding broadcasts the learned merge ranks and runs as
an Arrow-batched pandas UDF with a per-batch word memo (corpus words
repeat; each unique word is encoded once per batch).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metalpipe_spark.materialize import materialize, release

# The pinned whitespace class, spelled out: identical to Python
# re.ASCII '\s' and Java '\s' (both [ \t\n\x0b\f\r] — what the
# Spark-side F.split word derivations match), unlike RE2 '\s' (no
# \x0b) or Unicode '\s' (NBSP etc.).  The SQL oracles spell the same
# explicit class so all three engines split identically (r14 advice).
_WS_ASCII = re.compile(r"[ \t\n\x0b\f\r]+")

END_OF_WORD = "</w>"


def _initial_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The round-0 BPE vocabulary: each unique whitespace word split
    into character symbols plus the terminal ``</w>`` marker, with its
    corpus frequency — ``(syms: array<string>, n: long)``.  This is the
    ONE corpus-scale pass (explode → map-side-combined groupBy); every
    later merge round works at vocabulary scale."""
    words = df.select(
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
        ).alias("word")
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
            ).alias("syms"),
            F.col("n"),
        )
    )


def _adjacent_pairs(vocab: DataFrame) -> DataFrame:
    """Explode a symbol-array vocabulary into adjacent symbol pairs
    ``(p: struct<l,r>, n)`` — shifted-slice zip, evaluated once per row
    (slices are direct HOF children, not re-evaluated per element)."""
    return vocab.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
        F.col("n"),
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 200
) -> DataFrame:
    """The oracle-checkable face of BPE training: the round-0 adjacent
    symbol-pair frequency table, top ``top_k`` under the SAME
    deterministic total order the merge loop uses as its argmax
    tie-break (count desc, then lexicographically smallest pair).
    Returns ``(rank, left_sym, right_sym, pair_count)``.

    Rank 1 here IS the first merge ``train_bpe`` would pick — the
    tie-break contract that tests/test_bpe.py pins by reference
    equality gets a driver-oracle face through this row.  Plan shape:
    one corpus-scale word count, one vocab-scale pair count, then a
    distributed partial top-k (TakeOrdered); the row_number window runs
    on the ``top_k``-row result only, never on the full pair table."""
    counted = (
        _adjacent_pairs(_initial_vocab(df, text_col))
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("n").alias("pair_count"))
    )
    topk = counted.orderBy(
        F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
    ).limit(top_k)
    from pyspark.sql import Window

    w = Window.orderBy(
        F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
    )
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "left_sym",
        "right_sym",
        "pair_count",
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_pair_count: int = 2,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from a corpus; returns the merge
    table ``(rank, left, right, pair_count)`` ordered by rank.

    Classic Sennrich training: words split into character symbols (plus
    a terminal ``</w>`` marker so word-final subwords stay distinct),
    and the most frequent adjacent symbol pair merges each round.
    Ties break deterministically: highest count, then lexicographically
    smallest ``(left, right)`` — the contract the reference-equality
    test pins.

    Plan shape: word counting is the one corpus-scale pass (explode →
    map-side-combined groupBy).  Each merge round is ONE vocab-scale
    shuffle (pair explode → groupBy-sum → 1-row argmax to the driver)
    plus a containment-gated fold that rewrites symbol arrays (greedy
    left-to-right, the reference semantics); every
    ``checkpoint_every`` rounds the vocab table is checkpointed so the
    iterative plan does not grow unboundedly — each round's actions
    re-execute the chain back to the last checkpoint, so the sweep is a
    real trade (measured at sf0.1, 32 merges: every round 9.2 s, every
    2nd 7.3 s, every 8th 9.4 s; 2 is the default).  Stops early when the
    best pair drops under ``min_pair_count`` (merging hapax pairs
    memorizes the corpus)."""
    spark = df.sparkSession
    vocab = _initial_vocab(df, text_col)
    merges = []
    prev = None
    for rank in range(num_merges):
        best = (
            _adjacent_pairs(vocab).groupBy("p")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), F.asc("p.l"), F.asc("p.r"))
            .first()
        )
        if best is None or best["c"] < min_pair_count:
            break
        left, right = best["p"]["l"], best["p"]["r"]
        merges.append((rank, left, right, int(best["c"])))
        vocab = _greedy_merge_vocab(vocab, left, right, left + right)
        if (rank + 1) % checkpoint_every == 0:
            vocab = materialize(vocab, eager=True)
            if prev is not None:
                release(prev)
            prev = vocab
    # The merge table lives in the driver-side list; nothing reads the
    # vocab DataFrame after the loop, so the final round's checkpoint
    # blocks are dropped here — without this, every train_bpe call
    # would pin one vocabulary table in executor storage for the
    # session's lifetime (3x per bench run of the catalog row).
    if prev is not None:
        release(prev)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]] | DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned merge table → ``(id, subwords:
    array<string>, n_subwords)``.  The merge list broadcasts with the
    UDF closure (it is vocabulary-sized by construction); encoding is
    the standard rank-greedy loop (always merge the lowest-rank pair
    present — equivalent to replaying training merges in order) with a
    per-batch memo so each unique word is encoded once per Arrow
    batch."""
    if isinstance(merges, DataFrame):
        merges = [
            (r["left"], r["right"])
            for r in merges.orderBy("rank").collect()
        ]
    ranks = {pair: i for i, pair in enumerate(merges)}

    import pandas as pd

    def encode_word(word: str, memo: dict) -> list[str]:
        got = memo.get(word)
        if got is not None:
            return got
        syms = list(word) + [END_OF_WORD]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        memo[word] = syms
        return syms

    def batches(it):
        for pdf in it:
            memo: dict = {}
            out = []
            for text in pdf[text_col]:
                subs: list[str] = []
                # Pinned ASCII class, not str.split(): Unicode
                # whitespace (NBSP etc.) must not desynchronize the
                # subword stream from the Java/SQL word derivations.
                for w in _WS_ASCII.split(text or ""):
                    if not w:
                        continue
                    subs.extend(encode_word(w, memo))
                out.append(subs)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "subwords": out,
                    "n_subwords": [len(s) for s in out],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} {id_type}, subwords array<string>, n_subwords long"
    )


def wordpiece_segment(word: str, vocab: set, max_len: int, unk: str) -> list:
    """Greedy longest-match-first WordPiece segmentation of one word
    (Wu et al. 2016 / BERT's tokenizer): at each position take the
    LONGEST vocab piece matching the remaining prefix — continuation
    positions match '##'-prefixed vocab entries — and if any position
    matches nothing, the WHOLE word becomes ``unk`` (BERT semantics:
    no partial fallback)."""
    out: list = []
    pos, n = 0, len(word)
    while pos < n:
        end = min(n, pos + max_len)
        piece = None
        while end > pos:
            cand = word[pos:end]
            key = cand if pos == 0 else "##" + cand
            if key in vocab:
                piece = key
                break
            end -= 1
        if piece is None:
            return [unk]
        out.append(piece)
        pos = end
    return out


def wordpiece_encode(
    df: DataFrame,
    vocab,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "[UNK]",
    max_input_chars: int = 100,
) -> DataFrame:
    """WordPiece document encoding — the third tokenizer family beside
    BPE (merge replay) and Unigram (Viterbi): greedy longest-match-
    first against a FIXED vocabulary, continuations carrying the
    ``##`` prefix, unmatchable words collapsing to ``unk`` whole (the
    BERT inference tokenizer; vocabularies ship with models, so there
    is no training half here).

    ``vocab`` is an iterable of pieces (continuation entries already
    ``##``-prefixed) or a single-column DataFrame.  Same plan shape as
    unigram_encode: the vocab broadcasts in the closure (model-sized),
    each Arrow batch keeps a word memo so every distinct word segments
    once per batch, one scan, no shuffle.  Output ``(id, pieces,
    n_pieces)``.

    ``max_input_chars`` is BERT's ``max_input_chars_per_word`` (default
    100, the reference tokenizer's): longer words collapse to ``unk``
    WITHOUT paying the O(len * max_piece) greedy walk — at web scale a
    single pathological megabyte "word" (minified JS, base64 blobs)
    must cost O(1), not a quadratic scan."""
    if isinstance(vocab, DataFrame):
        col = vocab.columns[0]
        vs = {r[col] for r in vocab.collect()}
    else:
        vs = set(vocab)
    if not vs:
        raise ValueError("wordpiece_encode: empty vocab")
    if "" in vs or "##" in vs:
        # A zero-length piece matches every position with zero advance:
        # the greedy walk would never terminate (and the SQL oracle's
        # recursive walk would recurse forever).
        raise ValueError(
            "wordpiece_encode: vocab contains a zero-length piece"
            " ('' or '##')"
        )
    if unk in vs:
        raise ValueError(
            f"wordpiece_encode: unk marker {unk!r} collides with a vocab"
            " piece"
        )
    if max_input_chars < 1:
        raise ValueError(
            f"max_input_chars must be >= 1, got {max_input_chars}"
        )
    max_len = max(
        len(p) - 2 if p.startswith("##") else len(p) for p in vs
    )

    import pandas as pd

    def batches(it):
        for pdf in it:
            memo: dict = {}
            out = []
            for text in pdf[text_col]:
                toks: list = []
                # ASCII-only \s split (not str.split): matches the
                # Java-regex word derivation the SQL oracle uses, so
                # non-ASCII whitespace cannot desynchronize the two.
                for w in _WS_ASCII.split((text or "").lower()):
                    if not w:
                        continue
                    got = memo.get(w)
                    if got is None:
                        if len(w) > max_input_chars:
                            got = [unk]
                        else:
                            got = wordpiece_segment(w, vs, max_len, unk)
                        memo[w] = got
                    toks.extend(got)
                out.append(toks)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "pieces": out,
                    "n_pieces": [len(t) for t in out],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    # id_col == text_col is legal (a distinct-words face keyed by the
    # word itself); a duplicate select would shadow the pandas column.
    cols = [id_col] if id_col == text_col else [id_col, text_col]
    return df.select(*cols).mapInPandas(
        batches, f"{id_col} {id_type}, pieces array<string>, n_pieces long"
    )


def _wp_initial_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The round-0 WordPiece vocabulary: each unique whitespace word
    split into BERT-style symbols — first character plain, every later
    character ``##``-prefixed (continuation marker instead of BPE's
    terminal ``</w>``) — with its corpus frequency, as
    ``(syms: array<string>, n: long)``.  One corpus-scale pass, same
    shape as :func:`_initial_vocab` — but LOWERCASED, because
    :func:`wordpiece_encode` (the BERT-uncased serving contract) folds
    case, so a case-preserving trainer would emit capitalized symbols
    the encoder can never match and every mixed-case word would serve
    as [UNK] (r15 review finding; the SQL oracle already lowercases)."""
    words = df.select(
        F.explode(
            F.split(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
            )
        ).alias("word")
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.transform(
                F.split(F.col("word"), ""),
                lambda c, i: F.when(i == F.lit(0), c).otherwise(
                    F.concat(F.lit("##"), c)
                ),
            ).alias("syms"),
            F.col("n"),
        )
    )


def _greedy_merge_vocab(
    vocab: DataFrame, left: str, right: str, merged
) -> DataFrame:
    """One merge round's vocabulary rewrite, shared by the BPE and
    WordPiece trainers: greedy left-to-right replacement of adjacent
    ``(left, right)`` with ``merged`` via an array fold ("aaa" under
    (a, a) -> ["aa", "a"] — the reference semantics).  The interpreted
    HOF is gated behind a codegen containment check, so it runs only on
    the vocabulary sliver that can contain the pair at all."""
    merged_col = F.lit(merged)
    fold = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged_col)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return vocab.select(
        F.when(
            F.array_contains("syms", left) & F.array_contains("syms", right),
            fold,
        )
        .otherwise(F.col("syms"))
        .alias("syms"),
        F.col("n"),
    )


def _wp_merged_symbol(left: str, right: str) -> str:
    """WordPiece merge result: the right symbol's continuation prefix
    folds away ("a" + "##b" = "ab", "##a" + "##b" = "##ab")."""
    return left + (right[2:] if right.startswith("##") else right)


def _wp_scored_pairs(vocab: DataFrame) -> DataFrame:
    """Likelihood-scored adjacent pairs of a WordPiece vocabulary:
    ``score = pair_count / (left_total * right_total)`` — the Schuster
    & Nakajima objective (merging the pair with the best
    count-over-product ratio maximizes the corpus unigram-LM likelihood
    gain).  The division is pinned as ``long / (double * long)`` so the
    DuckDB twin (``pair_count / (cl::DOUBLE * cr)``) produces the
    bit-identical IEEE double; the product is computed in double
    because two ~1e12 counts overflow int64 at 100 TB scale.
    Returns ``(l, r, pair_count, score)``."""
    pairs = (
        _adjacent_pairs(vocab)
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").alias("pair_count"))
    )
    symc = (
        vocab.select(F.explode("syms").alias("s"), "n")
        .groupBy("s")
        .agg(F.sum("n").alias("sc"))
    )
    # Symbol totals are alphabet+merges-sized — broadcast both probes.
    lc = symc.select(F.col("s").alias("l"), F.col("sc").alias("cl"))
    rc = symc.select(F.col("s").alias("r"), F.col("sc").alias("cr"))
    return (
        pairs.join(F.broadcast(lc), "l")
        .join(F.broadcast(rc), "r")
        .select(
            "l",
            "r",
            "pair_count",
            (
                F.col("pair_count")
                / (F.col("cl").cast("double") * F.col("cr"))
            ).alias("score"),
        )
    )


def wordpiece_pair_scores(
    df: DataFrame, text_col: str = "text", top_k: int = 200
) -> DataFrame:
    """The oracle-checkable face of WordPiece training (the
    :func:`bpe_pair_counts` pattern): the round-0 likelihood-scored
    pair table, top ``top_k`` under the trainer's deterministic argmax
    order (score desc, then lexicographically smallest pair).  Rank 1
    IS the first merge :func:`train_wordpiece` picks.  Returns
    ``(rank, left_sym, right_sym, pair_count, score)``.

    Plan shape: one corpus-scale word count, one vocab-scale pair
    count + one vocab-scale symbol count meeting through broadcast
    joins, a distributed partial top-k.  The round-0 vocabulary
    persists for the duration of the call only — the scored-pair plan
    consumes it three times (pairs + both symbol-count probes), and
    without the persist each consumer re-runs the corpus scan (a
    3x-of-100TB mistake the r15 .explain audit caught) — and the
    top-k is materialized EAGERLY (``top_k`` rows,
    aggregate-output-class) so the cache is dropped before returning
    instead of pinning a vocab-scale block for the session's lifetime
    (r16 advice: the rebalance_cells leak class)."""
    vocab = _wp_initial_vocab(df, text_col).persist()
    try:
        order = [F.desc("score"), F.asc("l"), F.asc("r")]
        rows = _wp_scored_pairs(vocab).orderBy(*order).limit(top_k).collect()
    finally:
        vocab.unpersist()
    return df.sparkSession.createDataFrame(
        [
            (i + 1, r["l"], r["r"], r["pair_count"], r["score"])
            for i, r in enumerate(rows)
        ],
        "rank int, left_sym string, right_sym string, "
        "pair_count long, score double",
    )


def train_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_pair_count: int = 2,
    checkpoint_every: int = 2,
    vocab_size: int | None = None,
) -> DataFrame:
    """Learn ``num_merges`` WordPiece merges from a corpus (Schuster &
    Nakajima 2012 — the likelihood-scored trainer behind BERT vocabs,
    closing the train->encode loop that BPE and Unigram already have;
    :func:`wordpiece_encode` serves the result).  Returns the merge
    table ``(rank, left, right, merged, pair_count, score)`` ordered by
    rank, where ``merged`` folds the right symbol's ``##`` away.

    Differs from :func:`train_bpe` in exactly one place: the argmax is
    over ``pair_count / (left_total * right_total)`` (the unigram-LM
    likelihood gain of the merge) instead of raw ``pair_count`` —
    frequent-but-independent pairs like "e"+"##s" lose to rarer pairs
    whose parts occur mostly together.  Ties break deterministically:
    best score, then lexicographically smallest ``(left, right)``
    (pinned by the reference-equality test and shared with
    :func:`wordpiece_pair_scores`).

    Plan shape: word counting is the one corpus-scale pass; each round
    is one vocab-scale pair count + one vocab-scale symbol count
    meeting through broadcast joins, a 1-row argmax to the driver, and
    the shared containment-gated greedy fold rewrite
    (:func:`_greedy_merge_vocab`); ``checkpoint_every`` bounds the
    iterative plan exactly as in BPE training.  Pairs with raw count
    under ``min_pair_count`` are excluded from every round's argmax
    CANDIDATES (the likelihood score actively FAVORS rare pairs —
    c/(cl*cr) is maximal for a hapax between hapax symbols — so a
    BPE-style "stop when the best drops under min" would halt round 0
    on any realistic corpus); training stops when no pair qualifies.

    ``vocab_size`` is the HF-parity alternative to ``num_merges``: the
    TARGET total vocabulary (round-0 alphabet + merged pieces, what
    :func:`wordpiece_vocab` returns — how BERT vocab sizes are quoted).
    When set it overrides ``num_merges``; the alphabet count is one
    vocab-scale aggregate paid once before the loop."""
    spark = df.sparkSession
    # Checkpoint the ROUND-0 vocabulary before the loop: each round's
    # argmax consumes the vocab three times (pair counts + both
    # symbol-count broadcast probes), so an untruncated round 0 would
    # re-run the corpus word count three times (the .explain audit's
    # 3x-of-100TB finding); later rounds already read the
    # checkpoint_every cache.
    vocab = prev = materialize(_wp_initial_vocab(df, text_col), eager=True)
    if vocab_size is not None:
        if vocab_size < 1:
            raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
        alphabet_n = (
            vocab.select(F.explode("syms").alias("s")).distinct().count()
        )
        num_merges = max(0, vocab_size - alphabet_n)
    merges = []
    for rank in range(num_merges):
        best = (
            _wp_scored_pairs(vocab)
            .where(F.col("pair_count") >= min_pair_count)
            .orderBy(F.desc("score"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            break
        left, right = best["l"], best["r"]
        merged = _wp_merged_symbol(left, right)
        merges.append(
            (rank, left, right, merged, int(best["pair_count"]),
             float(best["score"]))
        )
        vocab = _greedy_merge_vocab(vocab, left, right, merged)
        if (rank + 1) % checkpoint_every == 0:
            vocab = materialize(vocab, eager=True)
            release(prev)
            prev = vocab
    release(prev)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string,"
        " pair_count long, score double",
    )


def wordpiece_vocab(
    df: DataFrame, merges: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The serving vocabulary a trained WordPiece model ships with:
    the corpus's round-0 alphabet (every start + continuation
    character symbol) plus each merge's ``merged`` piece — exactly
    what :func:`wordpiece_encode` consumes, closing train->encode.
    Single-column ``(piece)``; alphabet derivation is one corpus-scale
    pass, the merge side is vocab-scale."""
    alphabet = (
        _wp_initial_vocab(df, text_col)
        .select(F.explode("syms").alias("piece"))
        .distinct()
    )
    return alphabet.unionByName(
        merges.select(F.col("merged").alias("piece"))
    ).distinct()
