"""Distributed BPE tokenizer training (merge learning) over a corpus.

The classic byte-pair-encoding trainer loop — count adjacent symbol pairs,
merge the most frequent, repeat — re-expressed for Spark's execution
model.  The key scale move is the same one real tokenizer trainers
(SentencePiece, HF tokenizers) make: train on the WORD-FREQUENCY table,
not the raw corpus.  A 100 TB corpus collapses to a |vocab|-row
(word, count) relation after one map-side-combined aggregation; every
merge iteration then scans only that table:

    per iteration:  vocab scan (narrow)  ->  pair-count agg (small
    shuffle, map-side combine)  ->  top-1 collect (ONE row — a model
    parameter, the legitimate kind of driver collect)  ->  narrow
    literal substitution folded into the next scan.

Cross-engine determinism (the DuckDB oracle unrolls the same loop as a
CTE chain):

- words come from the repo-wide tokenizer contract (text.tokens);
- symbols are space-joined inside a word ('h e l l o'), so a merge
  substitution is a plain ``replace`` of ``' a b '`` with ``' ab '`` on
  the space-padded string — symbols never contain spaces, so a match
  always aligns to whole symbols;
- ``replace`` is a single left-to-right non-overlapping pass in BOTH
  engines.  One pass misses every second occurrence in an overlapping
  run (``a a a a`` -> ``aa a a``), so each merge applies TWO passes —
  identical, documented semantics both sides ("BPE-ish": a bounded
  number of passes instead of SentencePiece's fixpoint loop; runs of
  five or more identical symbols may stay partially merged);
- the winning pair breaks ties by (count DESC, symbol_a ASC, symbol_b
  ASC) — total order, deterministic in both engines.

The reference has no tokenizer tooling (row-at-a-time spec interpreter);
this is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adtl_spark.operators.text import tokens
from adtl_spark.session import cut


def _spaced(col):
    """'hello' -> 'h e l l o' (initial one-symbol-per-char state)."""
    return F.trim(F.regexp_replace(col, "(.)", "$1 "))


def _merge_once(col, a: str, b: str):
    """Two single-pass replaces of the pair (a, b) on a spaced string."""
    pat = F.lit(f" {a} {b} ")
    rep = F.lit(f" {a}{b} ")
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    once = F.replace(padded, pat, rep)
    return F.trim(F.replace(once, pat, rep))


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges; returns the merge table
    (step, s1, s2, cnt) — the model a BPE segmenter replays in order.

    ``cnt`` is the corpus-wide frequency of the winning pair at the time
    it was chosen (weighted by word frequency)."""
    spark: SparkSession = docs.sparkSession
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_spaced(F.col("word")).alias("w"), "cnt")
    )
    # the loop re-scans vocab once per merge; persist the aggregated form
    # so the corpus itself is tokenized exactly once
    vocab = vocab.persist()
    try:
        merges: list[tuple[int, str, str, int]] = []
        w = F.col("w")
        for step in range(1, n_merges + 1):
            arr = F.split(w, " ")
            pairs = (
                vocab.select(
                    F.explode(
                        F.arrays_zip(
                            F.slice(arr, 1, F.size(arr) - 1).alias("s1"),
                            F.slice(arr, 2, F.size(arr) - 1).alias("s2"),
                        )
                    ).alias("p"),
                    F.col("cnt"),
                )
                .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
                .agg(F.sum("cnt").alias("pcnt"))
                .orderBy(F.desc("pcnt"), F.asc("s1"), F.asc("s2"))
                .limit(1)
                .collect()
            )
            if not pairs:
                break
            top = pairs[0]
            merges.append((step, top["s1"], top["s2"], int(top["pcnt"])))
            w = _merge_once(w, top["s1"], top["s2"])
        return spark.createDataFrame(
            merges, "step INT, s1 STRING, s2 STRING, cnt BIGINT"
        )
    finally:
        vocab.unpersist()


def bpe_segment(
    docs: DataFrame,
    merge_rows: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to a document set: per-document BPE-ish
    segmentation replaying the merges in order (zero-shuffle narrow map).
    Output: (id_col, n_words, n_pieces) — the compression the tokenizer
    achieves, the number a data pipeline actually budgets on."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    w = _spaced(F.col("word"))
    for a, b in merge_rows:
        w = _merge_once(w, a, b)
    return (
        toks.select(F.col(id_col), F.size(F.split(w, " ")).alias("np"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").cast("long").alias("n_pieces"),
        )
    )


def bpe_merges_oracle_sql(source_sql: str, n_merges: int = 5) -> str:
    """DuckDB twin of :func:`bpe_merges`: the same loop unrolled as a CTE
    chain (w0 -> p1/m1 -> w1 -> ... ), same two-pass replace, same
    tie-break.  Every CTE is MATERIALIZED: the chain references w{i-1}
    from three places (p{i}, and twice via m{i} in w{i}) and DuckDB's
    default inlining re-evaluates each reference — exponential (~3^n)
    blowup without materialization."""

    def pair_cte(i: int) -> str:
        return f"""
    p{i} AS MATERIALIZED (
      SELECT s1, s2, CAST(sum(cnt) AS BIGINT) AS pcnt
      FROM (
        SELECT unnest(arr[1:len(arr)-1]) AS s1,
               unnest(arr[2:len(arr)]) AS s2,
               cnt
        FROM (SELECT string_split(w, ' ') AS arr, cnt FROM w{i - 1})
      )
      GROUP BY s1, s2
    ),
    m{i} AS MATERIALIZED (
      SELECT {i} AS step, s1, s2, pcnt
      FROM p{i} ORDER BY pcnt DESC, s1 ASC, s2 ASC LIMIT 1
    )"""

    def apply_cte(i: int) -> str:
        pat = f"(SELECT ' ' || s1 || ' ' || s2 || ' ' FROM m{i})"
        rep = f"(SELECT ' ' || s1 || s2 || ' ' FROM m{i})"
        return f"""
    w{i} AS MATERIALIZED (
      SELECT trim(replace(replace(' ' || w || ' ', {pat}, {rep}), {pat}, {rep})) AS w,
             cnt
      FROM w{i - 1}
    )"""

    ctes = [
        f"""
    w0 AS MATERIALIZED (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w,
             cnt
      FROM (
        SELECT word, count(*) AS cnt
        FROM (
          SELECT unnest(
            list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
          ) AS word
          FROM ({source_sql})
        )
        GROUP BY word
      )
    )"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(pair_cte(i))
        if i < n_merges:
            ctes.append(apply_cte(i))
    unions = "\n      UNION ALL ".join(
        f"SELECT step, s1, s2, pcnt AS cnt FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH" + ",".join(ctes) + f"\n    SELECT CAST(step AS INT) AS step, s1, s2, cnt FROM ({unions}) ORDER BY step"
    )


def bpe_segment_oracle_sql(source_sql: str, n_merges: int = 5) -> str:
    """DuckDB twin of bpe_merges + bpe_segment composed: learn the merges
    with the same unrolled CTE chain, then apply all of them (two-pass
    replace each, via scalar subqueries on m1..mN) to every document's
    words and count the resulting pieces."""
    # reuse the merge-learning chain: everything up to m{n_merges},
    # including the apply CTEs that feed later iterations
    learn = bpe_merges_oracle_sql(source_sql, n_merges)
    ctes = learn.split("\n    SELECT CAST(step AS INT)")[0]  # "WITH w0 ... )"
    expr = "' ' || w || ' '"
    for i in range(1, n_merges + 1):
        pat = f"(SELECT ' ' || s1 || ' ' || s2 || ' ' FROM m{i})"
        rep = f"(SELECT ' ' || s1 || s2 || ' ' FROM m{i})"
        expr = f"' ' || trim(replace(replace({expr}, {pat}, {rep}), {pat}, {rep})) || ' '"
    return (
        ctes
        + f""",
    docw AS MATERIALIZED (
      SELECT doc_id,
             trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w
      FROM (
        SELECT doc_id, unnest(
          list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
        ) AS word
        FROM ({source_sql})
      )
    ),
    seg AS (
      SELECT doc_id, trim({expr}) AS w FROM docw
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(w, ' '))) AS BIGINT) AS n_pieces
    FROM seg GROUP BY doc_id ORDER BY doc_id
    """
    )


# ------------------------------------------------------- driver-side trainer


def _merge_word(syms: list[str], a: str, b: str) -> list[str]:
    """One PASS of the pair merge on a symbol list, with the exact
    semantics of a single left-to-right non-overlapping string
    ``replace(' a b ', ' ab ')`` on the space-joined form: a match
    consumes its trailing space, so the pair starting at the immediately
    following symbol can never match in the same pass (i advances by 2).
    """
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
            # the consumed trailing space also blocks a match STARTING at
            # the next symbol (string-replace resumes scanning after the
            # replacement text): emit it unexamined
            if i < n:
                out.append(syms[i])
                i += 1
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_word_twopass(syms: list[str], a: str, b: str) -> list[str]:
    """The module's documented two-pass merge (see _merge_once)."""
    return _merge_word(_merge_word(syms, a, b), a, b)


def _learn_merges_local(
    words: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Incremental BPE merge learning over a collected (word, count)
    table — the driver-side half of bpe_train_local.  Pure Python, no
    Spark: pair counts update only for the words a merge actually
    touches (inverted pair->word index), so 30k merges cost
    O(touched words), not 30k corpus rescans.  Semantics are
    bit-identical to the distributed bpe_merges loop: same two-pass
    replace, same (count DESC, s1 ASC, s2 ASC) tie-break."""
    from collections import defaultdict

    syms: list[list[str]] = [list(w) for w, _ in words]
    cnts: list[int] = [c for _, c in words]
    pair_cnt: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, s in enumerate(syms):
        c = cnts[wi]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pair_cnt[p] += c
            pair_words[p].add(wi)

    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        live = [(p, c) for p, c in pair_cnt.items() if c > 0]
        if not live:
            break
        (a, b), top_cnt = min(live, key=lambda pc: (-pc[1], pc[0]))
        merges.append((step, a, b, top_cnt))
        for wi in list(pair_words[(a, b)]):
            s, c = syms[wi], cnts[wi]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pair_cnt[p] -= c
                if pair_cnt[p] <= 0:
                    del pair_cnt[p]
                pair_words[p].discard(wi)
            s2 = _merge_word_twopass(s, a, b)
            syms[wi] = s2
            for i in range(len(s2) - 1):
                p = (s2[i], s2[i + 1])
                pair_cnt[p] += c
                pair_words[p].add(wi)
    return merges


def bpe_train_local(
    docs: DataFrame,
    n_merges: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """BPE merge learning at realistic vocab sizes (n_merges up to ~32k):
    ONE distributed tokenize + word-count aggregation (the only corpus
    pass — on 100 TB this is the map-side-combined agg that collapses the
    corpus to a |vocab|-row table), collect the vocab-bound word-frequency
    table to the driver, learn the merges locally with incremental
    pair-count updates, and return the same (step, s1, s2, cnt) merge
    table as :func:`bpe_merges`.

    Equivalence with the distributed loop (and so with the DuckDB oracle)
    is pinned by tests/test_tokenizer.py::test_local_trainer_matches_
    distributed — the distributed loop stays the oracle-gated reference
    implementation; this is the production trainer.  The collect is
    legitimate: the word-frequency table is vocabulary-bound (Heaps' law),
    not corpus-bound, and the learned merges are MODEL PARAMETERS."""
    spark: SparkSession = docs.sparkSession
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    words = [(r["word"], int(r["cnt"])) for r in vocab]
    merges = _learn_merges_local(words, n_merges)
    return spark.createDataFrame(
        merges, "step INT, s1 STRING, s2 STRING, cnt BIGINT"
    )


def bpe_segment_model(
    docs: DataFrame,
    merge_rows: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment a document set with a learned merge list of ANY size.

    bpe_segment folds each merge into the Column expression tree (two
    F.replace per merge) — perfect at n_merges=6, a 60k-deep expression
    at a realistic 30k-merge vocabulary.  This is the scale path:

    - the merge list ships to executors ONCE as a broadcast variable
      (a real tokenizer model is a few MB — broadcast, not closure,
      so it serializes once per executor instead of once per task);
    - segmentation runs on the DISTINCT word table, not the token
      stream — Zipf means unique words are orders of magnitude fewer
      than tokens, and the per-word piece count joins back to documents
      by word (broadcast-sized right side for any real vocabulary);
    - the per-word replay is an Arrow-batched pandas UDF applying the
      same two-pass list merge as the trainer, with a C-level substring
      prefilter (' a b ' in word) so the N-merge loop skips merges the
      word cannot contain.

    Output schema matches bpe_segment: (id_col, n_words, n_pieces)."""
    from pyspark.sql import types as ST

    spark: SparkSession = docs.sparkSession
    bc = spark.sparkContext.broadcast(list(merge_rows))

    @F.pandas_udf(ST.IntegerType())
    def n_pieces_udf(words: pd.Series) -> pd.Series:
        model = bc.value

        def seg(word: str) -> int:
            syms = list(word)
            spaced = " " + " ".join(syms) + " "
            for a, b in model:
                pat = f" {a} {b} "
                if pat not in spaced:
                    continue
                syms = _merge_word_twopass(syms, a, b)
                spaced = " " + " ".join(syms) + " "
            return len(syms)

        return words.map(seg)

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    word_pieces = (
        toks.select("word")
        .distinct()
        .select("word", n_pieces_udf(F.col("word")).alias("np"))
    )
    return (
        toks.join(F.broadcast(word_pieces), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").cast("long").alias("n_pieces"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style), Viterbi-EM variant.


def _viterbi_pieces(word: str, counts: dict, total: int, max_len: int) -> list:
    """Maximum-likelihood segmentation of ``word`` under the unigram
    piece model — O(len * max_len) DP.  Deterministic tie-break: at
    equal score the LONGEST piece ending at a position wins (the split
    with the smaller start index is tried first and strict inequality
    is required to replace it).  Characters absent from the model get a
    0.5/total floor so every word stays segmentable (the SentencePiece
    character-coverage fallback)."""
    import math

    n = len(word)
    neg = float("-inf")
    best = [neg] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    floor = math.log(0.5 / total)
    for end in range(1, n + 1):
        for start in range(max(0, end - max_len), end):
            piece = word[start:end]
            c = counts.get(piece)
            if c is None and end - start > 1:
                continue
            lp = math.log(c / total) if c else floor
            score = best[start] + lp
            if score > best[end]:
                best[end] = score
                back[end] = start
    pieces = []
    end = n
    while end > 0:
        start = back[end]
        pieces.append(word[start:end])
        end = start
    pieces.reverse()
    return pieces


def _unigram_seed_local(words: list, max_piece_len: int, seed_size: int) -> dict:
    """Candidate vocabulary: every substring of length <= max_piece_len,
    scored by corpus frequency x length (the standard seeding
    heuristic), top ``seed_size`` kept plus ALL single characters
    (coverage).  Tie-break (score DESC, piece ASC) — total order."""
    from collections import Counter

    subs: Counter = Counter()
    chars: Counter = Counter()
    for word, cnt in words:
        n = len(word)
        for s in range(n):
            chars[word[s]] += cnt
            for e in range(s + 1, min(n, s + max_piece_len) + 1):
                subs[word[s:e]] += cnt
    ranked = sorted(
        ((p, c) for p, c in subs.items() if len(p) > 1),
        key=lambda pc: (-pc[1] * len(pc[0]), pc[0]),
    )[: seed_size]
    seed = {p: c for p, c in ranked}
    seed.update(chars)
    return seed


def _unigram_em_local(
    words: list, seed: dict, vocab_size: int, iters: int, max_piece_len: int
) -> dict:
    """Viterbi-EM: segment the word table under the current counts,
    recount pieces from the segmentations, prune to ``vocab_size``
    keeping all single characters.  Counts stay exact integers, so the
    distributed twin lands on the identical model."""
    counts = dict(seed)
    for _ in range(iters):
        total = sum(counts.values())
        from collections import Counter

        new: Counter = Counter()
        for word, cnt in words:
            for piece in _viterbi_pieces(word, counts, total, max_piece_len):
                new[piece] += cnt
        multi = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        singles = {p: c for p, c in new.items() if len(p) == 1}
        keep = dict(multi[: max(0, vocab_size - len(singles))])
        keep.update(singles)
        counts = keep
    return counts


def unigram_train_local(
    docs: DataFrame,
    vocab_size: int = 60,
    iters: int = 2,
    max_piece_len: int = 8,
    seed_size: int = 400,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    algorithm) in its deterministic hard-EM form: substring seeding,
    Viterbi E-step, count M-step, frequency pruning — run driver-side
    on the collected word-frequency table (vocabulary-bound, the same
    legitimate collect as bpe_train_local).  Returns (piece, cnt,
    total) — counts, not log-probs, so scoring math happens in exactly
    one place (:func:`_viterbi_pieces`) for every consumer.

    The distributed twin :func:`unigram_train` must produce the
    identical model (tests pin it); this is the differential reference,
    like bpe_train_local is for the BPE loop."""
    spark: SparkSession = docs.sparkSession
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    words = [(r["word"], int(r["cnt"])) for r in vocab]
    seed = _unigram_seed_local(words, max_piece_len, seed_size)
    counts = _unigram_em_local(words, seed, vocab_size, iters, max_piece_len)
    total = sum(counts.values())
    return spark.createDataFrame(
        sorted((p, int(c), int(total)) for p, c in counts.items()),
        "piece STRING, cnt BIGINT, total BIGINT",
    )


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 60,
    iters: int = 2,
    max_piece_len: int = 8,
    seed_size: int = 400,
    text_col: str = "text",
) -> DataFrame:
    """Distributed unigram-LM training: the same seeding + Viterbi-EM
    as :func:`unigram_train_local`, but every corpus/vocab-sized step
    is a DataFrame op —

    - ONE corpus pass builds the (word, count) relation (map-side
      combined; the only corpus-sized shuffle);
    - seeding explodes substrings of the DISTINCT-word relation with a
      native sequence/transform expression (no UDF) and takes the
      top-``seed_size`` weighted by frequency x length;
    - each EM round segments the distinct-word relation in an
      Arrow-batched pandas UDF against the BROADCAST count model
      (model-sized, like the BPE segmenter), then recounts pieces with
      a map-side-combined agg;
    - pruning is a model-sized sort, and only the model (bounded by
      ``vocab_size``) ever reaches the driver.

    Counts are exact integers end-to-end, so this lands on the
    IDENTICAL model as the local twin (tested)."""
    from pyspark.sql import types as ST

    spark: SparkSession = docs.sparkSession
    word_df = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    word_df = cut(word_df)  # reused every round

    # substring explode, natively: positions s in 1..len, e in s..s+L-1
    subs = word_df.select(
        "cnt",
        F.explode(
            F.flatten(
                F.expr(
                    f"""transform(sequence(1, length(word)), s ->
                          transform(sequence(s, least(length(word),
                                                      s + {int(max_piece_len) - 1})),
                                    e -> substring(word, s, e - s + 1)))"""
                )
            )
        ).alias("piece"),
    )
    piece_counts = subs.groupBy("piece").agg(F.sum("cnt").alias("c"))
    singles = piece_counts.filter(F.length("piece") == 1)
    multi = (
        piece_counts.filter(F.length("piece") > 1)
        .orderBy(
            F.desc(F.col("c") * F.length("piece")), F.asc("piece")
        )
        .limit(int(seed_size))
    )
    model = {
        r["piece"]: int(r["c"])
        for r in singles.unionByName(multi).collect()
    }

    piece_schema = ST.ArrayType(ST.StringType())
    for _ in range(int(iters)):
        total = sum(model.values())
        bc = spark.sparkContext.broadcast((model, total))

        @F.pandas_udf(piece_schema)
        def seg_udf(words_s: pd.Series) -> pd.Series:
            counts, tot = bc.value
            return words_s.map(
                lambda w: _viterbi_pieces(w, counts, tot, int(max_piece_len))
            )

        new_counts = (
            word_df.select("cnt", F.explode(seg_udf(F.col("word"))).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
        )
        singles_r = new_counts.filter(F.length("piece") == 1).collect()
        n_singles = len(singles_r)
        multi_r = (
            new_counts.filter(F.length("piece") > 1)
            .orderBy(F.desc("c"), F.asc("piece"))
            .limit(max(0, int(vocab_size) - n_singles))
            .collect()
        )
        model = {r["piece"]: int(r["c"]) for r in singles_r}
        model.update({r["piece"]: int(r["c"]) for r in multi_r})

    total = sum(model.values())
    return spark.createDataFrame(
        sorted((p, int(c), int(total)) for p, c in model.items()),
        "piece STRING, cnt BIGINT, total BIGINT",
    )


def unigram_segment_model(
    docs: DataFrame,
    model_rows: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 8,
) -> DataFrame:
    """Segment documents under a trained unigram model (rows of
    (piece, cnt, total)): broadcast model, Viterbi over the DISTINCT
    word relation (the bpe_segment_model scale shape — Zipf makes
    unique words orders of magnitude fewer than tokens), piece counts
    joined back broadcast-sized.  Output (id_col, n_words, n_pieces)."""
    from pyspark.sql import types as ST

    spark: SparkSession = docs.sparkSession
    counts = {p: int(c) for p, c, _t in model_rows}
    total = int(model_rows[0][2]) if model_rows else 1
    bc = spark.sparkContext.broadcast((counts, total))

    @F.pandas_udf(ST.IntegerType())
    def n_pieces_udf(words_s: pd.Series) -> pd.Series:
        cnts, tot = bc.value
        return words_s.map(
            lambda w: len(_viterbi_pieces(w, cnts, tot, int(max_piece_len)))
        )

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    word_pieces = (
        toks.select("word")
        .distinct()
        .select("word", n_pieces_udf(F.col("word")).alias("np"))
    )
    return (
        toks.join(F.broadcast(word_pieces), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").cast("long").alias("n_pieces"),
        )
    )
