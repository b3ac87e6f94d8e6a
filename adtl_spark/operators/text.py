"""Text analysis operators for training-data pipelines.

All pure Column expressions (whole-stage codegen, no UDFs):

- tokenization + token counting (whitespace and BPE-ish regex)
- quality scoring (length / punctuation / stopword / repetition signals)
- language identification (stopword-hit n-gram heuristic)
- document fingerprinting (normalize -> sort tokens -> md5), the
  OpenRefine-style key-collision fingerprint

Every operator has an exact ANSI-SQL twin (used as the DuckDB oracle in
__spark_entry__.py) — deterministic by construction.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from adtl_spark.session import cut, cut_and_release

# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation —
# a cheap stand-in for byte-pair pre-segmentation rules
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
           "on", "with", "as", "was", "be", "by", "at", "this", "are", "or"],
    "es": ["de", "la", "que", "el", "en", "y", "los", "del", "se", "las",
           "por", "un", "para", "con", "una", "su", "al", "es", "lo", "como"],
    "fr": ["de", "la", "le", "et", "les", "des", "en", "un", "du", "une",
           "que", "est", "pour", "qui", "dans", "a", "par", "plus", "pas", "au"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit",
           "sich", "des", "auf", "für", "ist", "im", "dem", "nicht", "ein",
           "eine", "als"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of the lowercased text (empty tokens removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def _tokenized(df: DataFrame, text_col: str) -> DataFrame:
    """Materialize the token array once per row — repeated tokenizer
    expressions (especially inside higher-order-function lambdas) are not
    reliably common-subexpression-eliminated, so every operator projects
    tokens first and the regex split runs exactly once per document."""
    return df.select(
        F.col("doc_id"),
        F.col(text_col).alias("__text"),
        tokens(F.col(text_col)).alias("__toks"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counting: whitespace tokens, BPE-ish pieces,
    characters, mean token length."""
    t = _tokenized(df, text_col)
    text, toks = F.col("__text"), F.col("__toks")
    n_ws = F.size(toks)
    n_bpe = F.regexp_count(text, F.lit(BPE_ISH_REGEX))
    return t.select(
        F.col("doc_id"),
        F.length(text).alias("n_chars_measured"),
        n_ws.cast("long").alias("n_tokens_ws"),
        n_bpe.cast("long").alias("n_tokens_bpe"),
        F.round(
            F.when(n_ws > 0, F.length(F.concat_ws("", toks)) / n_ws).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("mean_token_len"),
    )


def _quality_cols(text: Column, toks: Column) -> dict[str, Column]:
    """The quality_score output expressions over a (text, tokens) column
    pair — factored out (r14) so the fused pipeline filter
    (:func:`quality_repetition_keep`) applies the IDENTICAL formulas
    without a join back; quality_score's plan is unchanged."""
    n = F.size(toks)
    n_alpha = F.regexp_count(text, F.lit(r"[A-Za-z]"))
    n_total = F.length(text)
    alpha_ratio = F.when(n_total > 0, n_alpha / n_total).otherwise(F.lit(0.0))
    en = STOPWORDS["en"]
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*en)))
    stop_ratio = F.when(n > 0, stop_hits / n).otherwise(F.lit(0.0))
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(
        F.lit(0.0)
    )
    length_ok = (n >= 10) & (n <= 100000)
    score = (
        F.when(length_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.least(alpha_ratio / 0.8, F.lit(1.0)) * 0.25
        + F.least(stop_ratio / 0.3, F.lit(1.0)) * 0.25
        + F.least(distinct_ratio / 0.5, F.lit(1.0)) * 0.25
    )
    return {
        "n_tokens": n.cast("long"),
        "alpha_ratio": F.round(alpha_ratio, 4),
        "stopword_ratio": F.round(stop_ratio, 4),
        "distinct_ratio": F.round(distinct_ratio, 4),
        "quality": F.round(score, 4),
    }


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0, 1]: length band, alpha ratio,
    stopword presence, token repetition (distinct ratio).  The formula is
    fixed and SQL-expressible; each component is also emitted for
    inspection/filter pushdown."""
    t = _tokenized(df, text_col)
    cols = _quality_cols(F.col("__text"), F.col("__toks"))
    return t.select(
        F.col("doc_id"), *[v.alias(k) for k, v in cols.items()]
    )


def lang_id(
    df: DataFrame, text_col: str = "text", with_token_count: bool = False
) -> DataFrame:
    """Stopword-hit language identification: per language, the fraction of
    tokens found in that language's stopword list; argmax wins, ties break
    to the alphabetically-first language code.  'und' when nothing scores.

    ``with_token_count`` adds an ``n_tokens_ws`` column from the same
    tokenized pass — pipeline consumers that need both avoid a second
    tokenization and a join."""
    t = _tokenized(df, text_col)
    toks = F.col("__toks")
    n = F.size(toks)
    langs = sorted(STOPWORDS)

    def stopword_hits(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    # two-step projection: materialize the per-language scores once, then
    # run the argmax CASE chain over the score columns (each score would
    # otherwise be re-evaluated ~2x per CASE branch)
    extra = [n.cast("long").alias("n_tokens_ws")] if with_token_count else []
    score_df = t.select(
        F.col("doc_id"),
        *[
            F.when(n > 0, stopword_hits(STOPWORDS[lang]) / n)
            .otherwise(F.lit(0.0))
            .alias(f"__s_{lang}")
            for lang in langs
        ],
        *extra,
    )
    scores: dict[str, Column] = {lang: F.col(f"__s_{lang}") for lang in langs}
    # first language whose score >= all others (alphabetical tie-break) —
    # expressed as a CASE chain so the DuckDB oracle can mirror it exactly
    pred: Column = F.lit("und")
    best: Column = F.lit(0.0)
    for lang in reversed(langs):
        ge_all = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            ge_all = c if ge_all is None else (ge_all & c)
        pred = F.when(ge_all, F.lit(lang)).otherwise(pred)
        best = F.when(ge_all, scores[lang]).otherwise(best)
    return score_df.select(
        F.col("doc_id"),
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("lang_pred"),
        F.round(best, 4).alias("lang_score"),
        *([F.col("n_tokens_ws")] if with_token_count else []),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Key-collision fingerprint: lowercase, strip non-alphanumerics,
    distinct tokens sorted and joined, md5.  Two documents with the same
    normalized vocabulary collide — a cheap canonical-form dedup key."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", " "))
    toks = F.filter(F.split(normalized, r"\s+"), lambda t: t != "")
    staged = df.select(F.col("doc_id"), toks.alias("__toks"))
    key = F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("__toks"))))
    return staged.select(
        F.col("doc_id"), F.md5(key).alias("fingerprint")
    )


def chunk_documents(
    df: DataFrame, chunk_tokens: int = 64, text_col: str = "text"
) -> DataFrame:
    """Context-length chunking: whitespace tokens regrouped into fixed-size
    chunks of ``chunk_tokens`` — the pre-tokenization pass that slices long
    documents to a training context budget.  Emits
    (doc_id, chunk_id, n_tokens, chunk_text); empty documents emit nothing.

    One tokenizer pass (staged, see :func:`_tokenized`), then explode over
    the chunk index — a narrow row-expander, no shuffle; chunk extraction
    is an array slice on the already-materialized token array, so the text
    is neither re-tokenized nor re-scanned per chunk."""
    t = _tokenized(df, text_col)
    n = F.size("__toks")
    n_chunks = F.ceil(n / F.lit(chunk_tokens))
    with_idx = t.select(
        "doc_id",
        "__toks",
        F.explode(
            F.when(n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1))
            .otherwise(F.array().cast("array<long>"))
        ).alias("chunk_id"),
    )
    chunk = F.slice(
        "__toks",
        (F.col("chunk_id") * chunk_tokens + 1).cast("int"),
        chunk_tokens,
    )
    return with_idx.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# PII redaction patterns — conservative syntax on purpose: the subset
# where Java regex (Spark) and RE2 (DuckDB) agree exactly, so the oracle
# can apply the IDENTICAL strings.  Application order is part of the
# operator contract: emails first (most specific), then IPs (dotted
# digits would otherwise be eaten by the phone class), then phone-like
# digit runs, then any remaining long digit identifier.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
    ("id", r"[0-9]{9,}", "<ID>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, IPv4s, phone-like digit runs and long numeric ids,
    emitting (doc_id, n_redactions, text_redacted).

    Each pattern is counted on, then replaced in, the PREVIOUS pattern's
    output (a staged projection per pattern — both keeps each regex to one
    evaluation and makes the count/replace pair read the same text), so
    e.g. the digits inside an already-redacted email are never
    double-counted as an id.  Pure regexp expressions: narrow, codegen,
    no shuffle — at scale this fuses into the scan projection."""
    staged = df.select(
        F.col("doc_id"), F.col(text_col).alias("__t"), F.lit(0).cast("long").alias("__n")
    )
    for name, pattern, token in PII_PATTERNS:
        staged = staged.select(
            "doc_id",
            F.regexp_replace("__t", pattern, token).alias("__t"),
            (F.col("__n") + F.regexp_count(F.col("__t"), F.lit(pattern))).alias("__n"),
        )
    return staged.select(
        "doc_id",
        F.col("__n").alias("n_redactions"),
        F.col("__t").alias("text_redacted"),
    )


def redact_pii_oracle_sql(source_sql: str) -> str:
    """DuckDB twin of redact_pii: the same patterns in the same order,
    chained through one CTE per pattern (counts read the previous stage's
    text, exactly like the Spark staging)."""
    prev = f"stage0 AS (SELECT doc_id, text AS t, CAST(0 AS BIGINT) AS n FROM ({source_sql}))"
    ctes = [prev]
    for i, (name, pattern, token) in enumerate(PII_PATTERNS, start=1):
        # RE2 needs the single-quote-escaped pattern; none of ours contain quotes
        ctes.append(
            f"stage{i} AS (SELECT doc_id, "
            f"regexp_replace(t, '{pattern}', '{token}', 'g') AS t, "
            f"n + len(regexp_extract_all(t, '{pattern}')) AS n FROM stage{i - 1})"
        )
    last = len(PII_PATTERNS)
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT doc_id, CAST(n AS BIGINT) AS n_redactions, t AS text_redacted FROM stage{last}"
    )


def _max_multiplicity(arr: Column) -> Column:
    """Highest multiplicity of any element in ``arr``: sort, then fold a
    (prev, run, best) struct over adjacent equals.  A narrow per-row
    expression — the distributed alternative (explode -> count -> max) costs
    two shuffles per n-gram order; this costs zero."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.sort_array(arr), init, step, lambda acc: acc["best"])


def _ngrams(toks: Column, n: int) -> Column:
    """Space-joined n-grams of the token array (empty below n tokens)."""
    size = F.size(toks)
    idx = F.sequence(F.lit(1), size - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-line
    fraction, and the corpus-classic top-2-gram / top-3-gram fractions
    (occurrences of the most frequent n-gram over all n-gram slots).

    Entirely narrow — tokenization, n-gram construction and multiplicity
    counting are per-row array expressions, so the operator runs with zero
    shuffles at any scale (each document is its own world).  Fractions are
    0.0 for documents too short to have the n-gram."""
    t = _tokenized(df, text_col)
    staged = t.select(
        "doc_id",
        *[
            v.alias(k)
            for k, v in _repetition_staged(
                F.col("__text"), F.col("__toks")
            ).items()
        ],
    )
    return staged.select(
        "doc_id",
        _rep_frac(F.col("__nl") - F.col("__ndl"), F.col("__nl")).alias(
            "dup_line_frac"
        ),
        _rep_frac(_max_multiplicity(F.col("__bg")), F.size("__bg")).alias(
            "top_bigram_frac"
        ),
        _rep_frac(_max_multiplicity(F.col("__tg")), F.size("__tg")).alias(
            "top_trigram_frac"
        ),
    )


def _repetition_staged(text: Column, toks: Column) -> dict[str, Column]:
    """repetition_stats' staged intermediates over a (text, tokens) pair
    — factored out (r14) for :func:`quality_repetition_keep`; the staged
    projection keeps each n-gram array computed once."""
    lines = F.filter(F.split(text, r"\n"), lambda l: l != "")
    return {
        "__nl": F.size(lines),
        "__ndl": F.size(F.array_distinct(lines)),
        "__bg": _ngrams(toks, 2),
        "__tg": _ngrams(toks, 3),
    }


def _rep_frac(top: Column, total: Column) -> Column:
    return F.round(
        F.when(total > 0, top.cast("double") / total).otherwise(F.lit(0.0)), 4
    )


def quality_repetition_keep(
    df: DataFrame,
    quality_min: float,
    top_bigram_max: float,
    text_col: str = "text",
) -> DataFrame:
    """ONE-PASS corpus keep-filter: the rows of ``df`` whose
    quality_score >= ``quality_min`` AND top_bigram_frac <=
    ``top_bigram_max`` — all original columns, no join back.

    This is the fused form of the pipeline stage
    ``df JOIN quality_ids JOIN repetition_ids`` (r14 optimization round,
    guide §1.2/§2.4): both scorers are narrow per-row expressions, so
    filtering on them directly removes two joins and a second
    tokenizer/regex pass over the corpus.  Equivalent to the join form
    whenever doc ids are unique (the corpus PK — the join form would
    duplicate rows otherwise, which no dedup pipeline wants).  The score
    expressions are the operators' own builders (_quality_cols /
    _repetition_staged), so the kept set is decided by bit-identical
    arithmetic, rounding included.

    The internal score columns take a prefix no input column starts
    with, so any input schema resolves unambiguously."""
    p = "__"
    while any(c.startswith(p) for c in df.columns):
        p += "_"
    toks, q_col, bg = f"{p}toks", f"{p}q", f"{p}bg"
    staged = df.select("*", tokens(F.col(text_col)).alias(toks))
    q = _quality_cols(F.col(text_col), F.col(toks))
    rep = _repetition_staged(F.col(text_col), F.col(toks))
    staged2 = staged.select(
        "*", q["quality"].alias(q_col), rep["__bg"].alias(bg)
    )
    return staged2.filter(
        (F.col(q_col) >= F.lit(quality_min))
        & (
            _rep_frac(_max_multiplicity(F.col(bg)), F.size(bg))
            <= F.lit(top_bigram_max)
        )
    ).drop(toks, q_col, bg)


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens with
    counts (ties to the lexicographically first token).  Shape at scale:
    explode -> map-side partial count -> one shuffle on the token, then a
    TakeOrdered of k rows to the driver side of the plan — the corpus
    never moves, only (token, partial-count) pairs."""
    t = _tokenized(df, text_col)
    return (
        t.select(F.explode("__toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def pack_chunks(
    chunks: DataFrame,
    budget: int,
    bucket_width: int = 1024,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
) -> DataFrame:
    """Sequence packing: lay the chunk stream end-to-end in (doc_id,
    chunk_id) order and slice it into fixed ``budget``-token training
    contexts (the concat-then-slice packing every LLM data pipeline runs
    before batching).  Emits the packing decision per chunk:
    (doc_id, chunk_id, n_tokens, pack_id, pack_offset) where pack_offset
    is the chunk's start position inside its pack; a chunk whose tokens
    cross a pack boundary starts in ``pack_id`` and spills into the next,
    exactly like the concatenated token stream it models.

    The global running sum is a DISTRIBUTED two-phase prefix sum, not one
    giant ordered window (``Window.orderBy`` with no partition key
    collapses the corpus onto a single task): chunks are bucketed by
    contiguous doc_id ranges, each bucket cumsums in parallel, and only
    the per-bucket totals — ~|corpus|/bucket_width rows — pass through
    the one single-partition window that chains bucket offsets, which
    then broadcast back.  All-integer arithmetic end to end.
    """
    from pyspark.sql import Window

    b = chunks.withColumn(
        "__bk__", F.expr(f"`{id_col}` DIV {bucket_width}")
    ).filter(F.col("__bk__").isNotNull())  # symmetric for exchange reuse
    local_w = (
        Window.partitionBy("__bk__")
        .orderBy(id_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn(
        "__lc__", F.coalesce(F.sum(tokens_col).over(local_w), F.lit(0))
    )
    # bucket total = max over rows of (exclusive running sum + own
    # tokens); deriving it from the WINDOW OUTPUT (not a second agg over
    # ``b``) keeps the plan to one scan+shuffle of the chunk stream —
    # the agg reuses the window's partitioning, no new exchange
    totals = local.groupBy("__bk__").agg(
        F.max(F.col("__lc__") + F.col(tokens_col)).alias("__bt__")
    )
    offset_w = Window.orderBy("__bk__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bk__", F.coalesce(F.sum("__bt__").over(offset_w), F.lit(0)).alias("__bo__")
    )
    staged = local.join(F.broadcast(offsets), "__bk__").select(
        id_col,
        order_col,
        F.col(tokens_col),
        (F.col("__bo__") + F.col("__lc__")).alias("__cum__"),
    )
    # integer DIV/%: the running sum exceeds 2^53 long before 100 TB, so a
    # double division would misplace pack boundaries
    return staged.select(
        id_col,
        order_col,
        F.col(tokens_col),
        F.expr(f"`__cum__` DIV {budget}").cast("long").alias("pack_id"),
        (F.col("__cum__") % budget).cast("long").alias("pack_offset"),
    )


def tfidf_topk(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    tf is the in-document occurrence count; idf = ln(N/df) is quantized to
    an integer (floor(x*1e4+0.5)) so the ranking score tf*idf_q is EXACT
    integer arithmetic — engine-portable ordering with no float
    comparisons (ln itself is <=1 ulp, not correctly-rounded, in both
    engines; see operators/corpus.py module docstring for the boundary
    caveat and remedy).  Ties break (score desc, token asc).  Output:
    (doc_id, token, tf, rank, tfidf) with tfidf = tf*idf_q/1e4.

    Shape at scale: one (doc, token) count agg (map-side combined), one
    token-level df agg over the deduped pairs, a join back on token — AQE
    upgrades it to broadcast at runtime when the vocabulary is small — and
    a per-document top-k window (partitioned by doc, no global sort)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    doc_freq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_"))
    idf_q = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("df_")) * 10000 + F.lit(0.5)
    ).cast("long")
    scored = (
        tf.join(doc_freq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select("id", "token", "tf", (F.col("tf") * idf_q).alias("__score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("__score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__score").cast("double") / 10000.0).alias("tfidf"),
        )
    )


def tfidf_topk_oracle_sql(table: str, k: int = 3) -> str:
    """DuckDB twin of :func:`tfidf_topk` — same tokenizer, same quantized
    idf, same integer ranking and tie-break."""
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM {table}
    ),
    tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM {table}),
    dfr AS (SELECT token, count(*) AS df_ FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.id, tf.token, tf.tf,
             tf.tf * CAST(floor(ln(CAST(nd.n_docs AS DOUBLE) / dfr.df_) * 10000 + 0.5) AS BIGINT) AS score
      FROM tf JOIN dfr USING (token) CROSS JOIN nd
    ),
    ranked AS (
      SELECT id, token, tf, score,
             row_number() OVER (PARTITION BY id ORDER BY score DESC, token ASC) AS rank
      FROM scored
    )
    SELECT id AS doc_id, token, CAST(tf AS BIGINT) AS tf,
           CAST(rank AS BIGINT) AS rank,
           CAST(score AS DOUBLE) / 10000.0 AS tfidf
    FROM ranked WHERE rank <= {k}
    """


def length_stats_by_group(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group corpus length statistics with an EXACT median: n_docs,
    token total, mean (quantized ratio) and the exact median token count.

    The median is middle-element selection over a per-group rank window —
    no approximate percentile sketch and no engine-specific interpolation:
    for odd groups it is the middle value, for even groups the mean of the
    two middle values (integer .0/.5, exact in both engines).  Shape at
    scale: the window partitions by group (parallel across groups), and
    only (doc_id, group, n_tokens) rows — not documents — flow into it."""
    from pyspark.sql import Window

    lens = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("grp").orderBy("n_tokens", "id")
    ranked = lens.select(
        "grp",
        "n_tokens",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("__cnt"),
    )
    # middle ranks via integer DIV ("/" is float division in both engines
    # and would round engine-specifically at the cast): lower middle
    # (cnt+1) DIV 2, upper middle cnt DIV 2 + 1 — equal for odd groups
    mid = ranked.filter(
        (F.col("__rn") == F.expr("(`__cnt` + 1) DIV 2"))
        | (F.col("__rn") == F.expr("`__cnt` DIV 2 + 1"))
    ).groupBy("grp").agg(
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("median_tokens")
    )
    agg = lens.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return agg.join(mid, "grp").select(
        F.col("grp").alias(group_col),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        (
            F.floor(
                F.col("total_tokens").cast("double") / F.col("n_docs") * 10000
                + F.lit(0.5)
            ).cast("double")
            / 10000.0
        ).alias("mean_tokens"),
        F.col("median_tokens"),
    )


def length_stats_oracle_sql(table: str, group_col: str = "lang") -> str:
    """DuckDB twin of :func:`length_stats_by_group` (same middle-element
    median, same quantized mean)."""
    return f"""
    WITH lens AS (
      SELECT doc_id AS id, {group_col} AS grp,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens
      FROM {table}
    ),
    ranked AS (
      SELECT grp, n_tokens,
             row_number() OVER (PARTITION BY grp ORDER BY n_tokens, id) AS rn,
             count(*) OVER (PARTITION BY grp) AS cnt
      FROM lens
    ),
    mid AS (
      SELECT grp, CAST(sum(n_tokens) AS DOUBLE) / count(*) AS median_tokens
      FROM ranked
      WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
      GROUP BY grp
    ),
    agg AS (
      SELECT grp, count(*) AS n_docs, sum(n_tokens) AS total_tokens
      FROM lens GROUP BY grp
    )
    SELECT a.grp AS {group_col},
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.total_tokens AS BIGINT) AS total_tokens,
           CAST(floor(CAST(a.total_tokens AS DOUBLE) / a.n_docs * 10000 + 0.5) AS DOUBLE) / 10000.0 AS mean_tokens,
           m.median_tokens
    FROM agg a JOIN mid m USING (grp)
    """


def ngram_topk(
    df: DataFrame, n: int = 2, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams by occurrence count (every
    slot counts, not per-doc distinct — the frequency table behind
    boilerplate detection and collocation mining).  Ties break to the
    lexicographically first n-gram.

    Shape at scale: the n-gram construction is a narrow per-row array
    expression; explode feeds a map-side partial count, so one shuffle of
    (ngram, partial-count) pairs and a k-row TakeOrdered — the corpus
    text itself never moves, same contract as :func:`vocab_topk`."""
    t = _tokenized(df, text_col)
    return (
        t.select(F.explode(_ngrams(F.col("__toks"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(k)
    )


def ngram_topk_oracle_sql(table: str, n: int = 2, k: int = 100) -> str:
    """DuckDB twin of :func:`ngram_topk` — same tokenizer contract, full
    n-grams only (documents shorter than ``n`` tokens emit nothing)."""
    gram = ", ".join(f"toks[CAST(i AS INT) + {j}]" for j in range(n))
    return f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS toks
      FROM {table}
    ),
    grams AS (
      SELECT concat_ws(' ', {gram}) AS ngram
      FROM toks
      CROSS JOIN (
        SELECT unnest(range(1, (
          SELECT CAST(max(len(toks)) AS BIGINT) + 1 FROM toks))) AS i
      ) idx
      WHERE i <= len(toks) - {n - 1}
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS n
    FROM grams GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT {k}
    """


def length_quantiles_by_group(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group EXACT p25/p50/p75 token-count quantiles by nearest-rank
    selection (rank = ceil(q*n), the classic inclusive definition) — no
    sketch, no interpolation, so the values are corpus elements and
    identical across engines.  All rank arithmetic is integer
    (ceil(q*n) = (q_num*n + q_den - 1) DIV q_den); one rank window per
    group over (id, group, n_tokens) rows — documents never enter the
    window, and groups sort in parallel."""
    from pyspark.sql import Window

    lens = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("grp").orderBy("n_tokens", "id")
    ranked = lens.select(
        "grp",
        "n_tokens",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("__cnt"),
    )

    def at_rank(rank_expr: str, alias: str):
        return F.max(
            F.when(F.col("__rn") == F.expr(rank_expr), F.col("n_tokens"))
        ).alias(alias)

    return (
        ranked.groupBy("grp")
        .agg(
            at_rank("(`__cnt` + 3) DIV 4", "p25_tokens"),
            at_rank("(`__cnt` + 1) DIV 2", "p50_tokens"),
            at_rank("(3 * `__cnt` + 3) DIV 4", "p75_tokens"),
        )
        .select(
            F.col("grp").alias(group_col),
            "p25_tokens",
            "p50_tokens",
            "p75_tokens",
        )
    )


def length_quantiles_oracle_sql(table: str, group_col: str = "lang") -> str:
    """DuckDB twin of :func:`length_quantiles_by_group` — same integer
    nearest-rank arithmetic over the same (n_tokens, id) ordering."""
    return f"""
    WITH lens AS (
      SELECT doc_id AS id, {group_col} AS grp,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens
      FROM {table}
    ),
    ranked AS (
      SELECT grp, n_tokens,
             row_number() OVER (PARTITION BY grp ORDER BY n_tokens, id) AS rn,
             count(*) OVER (PARTITION BY grp) AS cnt
      FROM lens
    )
    SELECT grp AS {group_col},
           max(CASE WHEN rn = (cnt + 3) // 4 THEN n_tokens END) AS p25_tokens,
           max(CASE WHEN rn = (cnt + 1) // 2 THEN n_tokens END) AS p50_tokens,
           max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN n_tokens END) AS p75_tokens
    FROM ranked GROUP BY grp
    """


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents per query (Okapi BM25,
    k1=1.2, b=0.75 — the Robertson/Sparck-Jones defaults every search
    stack ships).  ``queries`` is a tiny (query_id, query) relation;
    scoring uses the same whitespace tokenizer as the rest of the text
    family.

    Exactness: the two float-looking factors are quantized to integers
    once each, so the per-(query, doc) score and therefore the ranking
    are EXACT integer arithmetic, reproducible across engines:

    - ``idf_q  = floor(ln(1 + (N - df + 0.5)/(df + 0.5)) * 1e4 + 0.5)``
      (same 1e-4 quantum and 1-ulp ln() caveat as tf-idf above);
    - ``tfn_q  = (2200000*tf) DIV (10*tf + 3 + (9000*dl) DIV A)`` where
      ``A = (T*1000) DIV N`` is the milli-token average document length —
      this is ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` scaled by
      1e5 with every division an explicit integer DIV the oracle
      replicates verbatim.  Magnitudes: tfn_q <= 2.2e5, idf_q <= ~3e5,
      so a summed score stays far under 2^63 at any corpus size.

    Shape at scale: the query relation (a handful of rows) tokenizes and
    BROADCASTS; the corpus contributes one (doc, token) tf aggregation
    (map-side combined) and a token-level df agg — both already computed
    by any tf-idf pass and shareable — then the broadcast semi-join
    keeps only tokens that appear in some query, so the per-(query, doc)
    score agg and the per-query top-k window touch a relation whose size
    is bounded by matches, not by the corpus.  The corpus is never
    shuffled except on (id, token) for the tf agg."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    # persisted: THREE consumers read the tf relation (the query-matched
    # scoring join, the document-frequency aggregation, nothing else re-
    # tokenizes through it) — Spark plans trees, so without the cache the
    # tokenize + explode + (id, token) shuffle executed once per branch
    # (the un-cached rrf_fuse plan read the corpus 18 times across its
    # two rankers).  Released after the top-k result materializes.
    tf = (
        toks.groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    # document length is a NARROW per-row projection (size of the token
    # array), not a second explode+shuffle; persisted because the scoring
    # join and the corpus-wide stats both read it.  The dl join below
    # stays map-side at scale: the other side is the query-matched tf
    # subset, which AQE broadcasts.
    dl = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("dl"),
    ).persist()
    doc_freq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_"))
    stats = dl.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
    ).select(
        "n_docs", F.expr("t_tokens * 1000 DIV n_docs").alias("avgdl_q")
    )
    qterms = queries.select(
        "query_id", F.explode(tokens(F.col("query"))).alias("token")
    ).distinct()
    idf_q = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df_") + 0.5) / (F.col("df_") + 0.5)
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "id")
        .join(doc_freq, "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "id",
            (
                idf_q
                * F.expr(
                    "(2200000 * tf) DIV (10 * tf + 3 + (9000 * dl) DIV avgdl_q)"
                )
            ).alias("__s"),
        )
        .groupBy("query_id", "id")
        .agg(F.sum("__s").alias("__score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("id"))
    result = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__score").cast("double") / 1e9).alias("bm25"),
        )
    )
    # queries x k rows — materializing is cheap at any scale and lets the
    # postings caches release deterministically (dedup-operator pattern)
    return cut_and_release(result, [tf, dl])


def bm25_topk_oracle_sql(
    table: str,
    queries: list[tuple[int, str]] | None,
    k: int = 5,
    queries_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`bm25_topk` — same tokenizer, same integer
    quantization (`//` is DuckDB's integer floor division; all operands
    here are non-negative BIGINTs, so it matches Spark's DIV exactly).
    Queries come either as a literal list or, via ``queries_sql``, as a
    (query_id, query) subquery (the hybrid-retrieval gate derives its
    queries from the corpus itself)."""
    if queries_sql is not None:
        qcte = f"q AS (SELECT query_id, query FROM ({queries_sql}))"
    else:
        qvals = ", ".join(f"({qid}, '{q}')" for qid, q in queries)
        qcte = f"q(query_id, query) AS (VALUES {qvals})"
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM {table}
    ),
    tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
    dfr AS (SELECT token, count(*) AS df_ FROM tf GROUP BY 1),
    stats AS (
      -- N = table row count (a zero-token document still counts toward
      -- N and avgdl, matching the Spark side's narrow dl relation)
      SELECT (SELECT count(*) FROM {table}) AS n_docs,
             count(*) AS t_tokens
      FROM toks
    ),
    st AS (SELECT n_docs, t_tokens * 1000 // n_docs AS avgdl_q FROM stats),
    {qcte},
    qterms AS (
      SELECT DISTINCT query_id, unnest(
        list_filter(string_split_regex(lower(query), '\\s+'), t -> t != '')
      ) AS token
      FROM q
    ),
    scored AS (
      SELECT qt.query_id, tf.id,
             SUM(
               CAST(floor(ln(1 + (st.n_docs - dfr.df_ + 0.5) / (dfr.df_ + 0.5)) * 10000 + 0.5) AS BIGINT)
               * ((2200000 * tf.tf) // (10 * tf.tf + 3 + (9000 * dl.dl) // st.avgdl_q))
             ) AS score
      FROM tf
      JOIN qterms qt USING (token)
      JOIN dl USING (id)
      JOIN dfr USING (token)
      CROSS JOIN st
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
      FROM scored
    )
    SELECT query_id, id AS doc_id, CAST(rank AS BIGINT) AS rank,
           CAST(score AS DOUBLE) / 1e9 AS bm25
    FROM ranked WHERE rank <= {k}
    """


# normalization passes, applied IN ORDER (each is a (pattern, replacement)
# regexp_replace; both engines' regex dialects agree on these ASCII/
# codepoint-class patterns).  Policy: control chars (except \t \n \v \f \r,
# which are whitespace) are dropped; curly quotes/dashes/ellipsis fold to
# ASCII; exotic spaces (NBSP, en-quads..zero-width, narrow NBSP,
# ideographic) become plain spaces; finally whitespace runs collapse and
# the ends trim.
_NORMALIZE_PASSES: list[tuple[str, str]] = [
    (r"[\x00-\x08\x0e-\x1f\x7f]", ""),
    ("[‘’‚‛]", "'"),
    ("[“”„‟]", '"'),
    ("[–—―]", "-"),
    ("…", "..."),
    ("[  -​ 　]", " "),
    (r"\s+", " "),
]


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: list[str] | None = None,
) -> DataFrame:
    """Deterministic text normalization (the CCNet-style cleanup pass every
    web corpus runs before dedup/scoring): strip control characters, fold
    typographic quotes/dashes/ellipses to ASCII, canonicalize exotic
    Unicode spaces, collapse whitespace runs, trim.

    A pure chain of ``regexp_replace`` Column expressions — narrow,
    whole-stage codegen, zero shuffle; at 100 TB this runs fused into the
    scan like any projection.  Emits (id[, *carry], text_norm,
    n_chars_norm, changed) so downstream passes can both consume the
    canonical text and audit the normalization rate; ``carry`` rides
    narrow columns along so pipeline consumers skip a join back."""
    c: Column = F.col(text_col)
    for pat, repl in _NORMALIZE_PASSES:
        c = F.regexp_replace(c, pat, repl)
    c = F.trim(c)
    return df.select(
        F.col(id_col),
        *[F.col(x) for x in (carry or [])],
        c.alias("text_norm"),
        F.length(c).cast("long").alias("n_chars_norm"),
        (c != F.col(text_col)).alias("changed"),
    )


def normalize_expr_sql(col: str = "text") -> str:
    """The DuckDB expression mirroring normalize_text's replacement chain
    — exported so composed pipeline oracles reuse the identical text."""
    expr = col
    for pat, repl in _NORMALIZE_PASSES:
        lit_pat = pat.replace("'", "''")
        lit_repl = repl.replace("'", "''")
        expr = f"regexp_replace({expr}, '{lit_pat}', '{lit_repl}', 'g')"
    return f"trim({expr})"


def normalize_text_oracle_sql(table: str, id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`normalize_text` — the same replacement chain
    in the same order ('g' flag = Spark's replace-all default)."""
    expr = normalize_expr_sql("text")
    return f"""
    SELECT {id_col},
           {expr} AS text_norm,
           CAST(length({expr}) AS BIGINT) AS n_chars_norm,
           {expr} != text AS changed
    FROM {table}
    """


def cms_build(
    df: DataFrame,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Count-min sketch of the corpus token frequencies (Cormode &
    Muthukrishnan 2005): ``depth`` salted hash rows x ``width`` cells,
    each cell the count of tokens hashing into it.  The sketch is the
    BOUNDED-memory scale path for frequency estimation — at 100 TB the
    exact token distribution has billions of distinct keys, while this
    relation never exceeds depth*width rows, merges across corpora by
    cell-wise addition, and (hashing with the portable salted md5) is
    deterministic across engines, partitionings and retries.

    Shape: explode -> narrow per-row (row, pos) hash pair generation ->
    one map-side-combined agg on depth*width short keys.  The corpus
    never moves; only (cell, partial-count) pairs shuffle."""
    from adtl_spark.operators.dedup import md5_60

    toks = _tokenized(df, text_col).select(F.explode("__toks").alias("token"))
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (
                            md5_60(F.concat_ws("|", F.lit(f"cms{i}"), F.col("token")))
                            % width
                        ).alias("pos"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        cells.select(F.col("c.row").alias("row"), F.col("c.pos").alias("pos"))
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    depth: int = 4,
    width: int = 1024,
    token_col: str = "token",
) -> DataFrame:
    """Point-estimate token counts from a count-min sketch: for each
    candidate token take the MIN cell count over the ``depth`` rows —
    an upper bound on the true count (never under, over only on
    collisions).  The sketch (<= depth*width rows) broadcasts; the
    candidate relation stays narrow."""
    from adtl_spark.operators.dedup import md5_60

    probes = candidates.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (
                            md5_60(
                                F.concat_ws("|", F.lit(f"cms{i}"), F.col(token_col))
                            )
                            % width
                        ).alias("pos"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    ).select(token_col, F.col("c.row").alias("row"), F.col("c.pos").alias("pos"))
    return (
        probes.join(F.broadcast(sketch), ["row", "pos"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("n_est"))
    )


def cms_topk_check_sql(
    table: str, k: int = 50, depth: int = 4, width: int = 1024
) -> str:
    """DuckDB twin of ``cms_estimate(cms_build(corpus), vocab_topk(corpus))``
    — same salted-md5 cell hashing, same min-over-rows estimate, joined
    with the exact counts of the top-``k`` tokens."""
    from adtl_spark.operators.dedup import md5_60_sql

    # column reference passed as a parameter, not substring-replaced into
    # a built expression (a replace() would corrupt identifiers that
    # happen to contain the substring)
    def probe(col: str) -> str:
        return md5_60_sql(f"concat_ws('|', 'cms' || CAST(r.row AS VARCHAR), {col})")

    return f"""
    WITH toks AS (
      SELECT unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM {table}
    ),
    exact AS (
      SELECT token, count(*) AS n_exact FROM toks
      GROUP BY token ORDER BY n_exact DESC, token ASC LIMIT {k}
    ),
    rows_ AS (SELECT unnest(range(0, {depth})) AS row),
    cells AS (
      SELECT r.row AS row, {probe("token")} % {width} AS pos, count(*) AS cnt
      FROM toks, rows_ r
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT e.token, e.n_exact, r.row AS row, {probe("e.token")} % {width} AS pos
      FROM exact e, rows_ r
    )
    SELECT p.token,
           CAST(p.n_exact AS BIGINT) AS n_exact,
           CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS n_est
    FROM probes p LEFT JOIN cells c ON p.row = c.row AND p.pos = c.pos
    GROUP BY p.token, p.n_exact
    """


def length_filter_iqr(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: list[str] | None = None,
) -> DataFrame:
    """Tukey-fence length filter per group: flag documents whose token
    count falls outside [p25 - 1.5*IQR, p75 + 1.5*IQR] of their group —
    the standard outlier cut before length statistics poison a training
    mix.  ALL-INTEGER comparison: the fence test is scaled by 2
    (``2*n < 2*p25 - 3*IQR``), so no float bound ever exists and the
    decision is identical across engines.

    Shape: the per-group quantile relation (|groups| rows, from the
    exact nearest-rank pass) broadcasts; the corpus side is one narrow
    projection + broadcast join — no extra shuffle beyond the quantile
    pass itself."""
    q = length_quantiles_by_group(df, group_col, text_col, id_col)
    lens = df.select(
        F.col(id_col),
        F.col(group_col),
        *[F.col(x) for x in (carry or [])],
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    iqr = F.col("p75_tokens") - F.col("p25_tokens")
    lo2 = 2 * F.col("p25_tokens") - 3 * iqr
    hi2 = 2 * F.col("p75_tokens") + 3 * iqr
    return lens.join(F.broadcast(q), group_col).select(
        id_col,
        group_col,
        *(carry or []),
        "n_tokens",
        ((2 * F.col("n_tokens") >= lo2) & (2 * F.col("n_tokens") <= hi2)).alias(
            "kept"
        ),
    )


def length_filter_iqr_oracle_sql(table: str, group_col: str = "lang") -> str:
    "DuckDB twin of :func:`length_filter_iqr` (same 2x-scaled fences)."
    return f"""
    WITH q AS ({length_quantiles_oracle_sql(table, group_col)}),
    lens AS (
      SELECT doc_id, {group_col},
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens
      FROM {table}
    )
    SELECT l.doc_id, l.{group_col}, l.n_tokens,
           (2 * l.n_tokens >= 2 * q.p25_tokens - 3 * (q.p75_tokens - q.p25_tokens)
            AND 2 * l.n_tokens <= 2 * q.p75_tokens + 3 * (q.p75_tokens - q.p25_tokens)) AS kept
    FROM lens l JOIN q ON l.{group_col} = q.{group_col}
    """


def zipf_fit(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over the top-``k`` token frequencies: OLS slope and
    intercept of ln(freq) against ln(rank) — the corpus-health number
    (natural text sits near slope -1; templated/duplicated corpora
    flatten or steepen it).

    Exactness: ln(rank) and ln(count) are quantized to 1e-6 integers per
    row, so every OLS sum is exact integer arithmetic (order-independent)
    and the closed-form slope/intercept divide two exact integers in
    double precision — identical in both engines.  Magnitudes: |x_q|,
    |y_q| <= ~3e7 for any corpus, so the K*sum(xy) term stays under 2^63
    through k ~ 1e4.

    Shape: the (token, count) agg is the vocab_topk pass; the fit itself
    touches k rows."""
    from pyspark.sql import Window

    top = vocab_topk(df, k, text_col)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = top.select(
        F.row_number().over(w).alias("rank"), F.col("n")
    )
    xq = F.floor(F.log(F.col("rank").cast("double")) * 1000000 + F.lit(0.5)).cast(
        "long"
    )
    yq = F.floor(F.log(F.col("n").cast("double")) * 1000000 + F.lit(0.5)).cast(
        "long"
    )
    s = ranked.select(xq.alias("x"), yq.alias("y")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("k")
        / 1000000.0
    )

    def q4(x):
        return F.floor(x * 10000 + F.lit(0.5)).cast("double") / 10000.0

    return s.select(
        F.col("k").cast("long").alias("k"),
        q4(slope).alias("zipf_slope"),
        q4(intercept).alias("zipf_intercept"),
    )


def zipf_fit_oracle_sql(table: str, k: int = 50) -> str:
    "DuckDB twin of :func:`zipf_fit` — same quantization, same OLS sums."
    return f"""
    WITH toks AS (
      SELECT unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM {table}
    ),
    top AS (
      SELECT token, count(*) AS n FROM toks
      GROUP BY 1 ORDER BY n DESC, token ASC LIMIT {k}
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rank, n FROM top
    ),
    q AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM q
    )
    SELECT CAST(k AS BIGINT) AS k,
           floor(CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE) * 10000 + 0.5) / 10000.0 AS zipf_slope,
           floor((CAST(sy AS DOUBLE) - CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / k / 1000000.0 * 10000 + 0.5) / 10000.0 AS zipf_intercept
    FROM s
    """


def pmi_topk(
    df: DataFrame, k: int = 50, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information:
    ``PMI(a,b) = ln(p(a,b) / (p(a) p(b)))`` with bigram probability over
    bigram slots and unigram probabilities over tokens — the measure that
    surfaces 'hong kong'-style fixed phrases that raw frequency buries
    under stopword pairs.  Bigrams under ``min_count`` occurrences are
    dropped (PMI is noise-dominated at tiny counts).

    Exactness: every count is an exact integer; the PMI expression
    ``ln(cab) - ln(ca) - ln(cb) + 2 ln(Tu) - ln(Tb)`` is evaluated in
    this fixed order and quantized at 1e-4 (the module's ln() caveat
    applies, compounded over five ln calls — still ~1e-12 relative odds
    of a boundary crossing).  Ties break (pmi desc, ngram asc).

    Shape: two corpus aggs (unigram and bigram counts, both map-side
    combined), token-keyed joins to attach the marginals (AQE broadcasts
    the min_count-filtered bigram side when small), a 1-row totals
    broadcast and a k-row TakeOrdered."""
    t = _tokenized(df, text_col)
    uni = (
        t.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    totals = t.select(
        F.sum(F.size("__toks")).alias("tu"),
        F.sum(F.greatest(F.size("__toks") - 1, F.lit(0))).alias("tb"),
    )
    big = (
        t.select(F.explode(_ngrams(F.col("__toks"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= min_count)
    )
    parts = F.split(F.col("ngram"), " ")
    joined = (
        big.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(uni.select(F.col("tok").alias("w1"), F.col("cu").alias("ca")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cb")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi_q = F.floor(
        (
            F.log(F.col("cab").cast("double"))
            - F.log(F.col("ca").cast("double"))
            - F.log(F.col("cb").cast("double"))
            + 2 * F.log(F.col("tu").cast("double"))
            - F.log(F.col("tb").cast("double"))
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    return (
        joined.select(
            "ngram",
            F.col("cab").cast("long").alias("n_ab"),
            (pmi_q.cast("double") / 10000.0).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("ngram"))
        .limit(k)
    )


def pmi_topk_oracle_sql(table: str, k: int = 50, min_count: int = 5) -> str:
    "DuckDB twin of :func:`pmi_topk` — same counts, ln order, quantum."
    return f"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS toks
      FROM {table}
    ),
    uni AS (
      SELECT unnest(toks) AS tok FROM t
    ),
    cu AS (SELECT tok, count(*) AS cu FROM uni GROUP BY 1),
    totals AS (
      SELECT sum(len(toks)) AS tu,
             sum(greatest(len(toks) - 1, 0)) AS tb
      FROM t
    ),
    grams AS (
      SELECT concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT) + 1]) AS ngram,
             toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t
      CROSS JOIN (
        SELECT unnest(range(1, (SELECT CAST(max(len(toks)) AS BIGINT) + 1 FROM t))) AS i
      ) idx
      WHERE i <= len(toks) - 1
    ),
    big AS (
      SELECT ngram, any_value(w1) AS w1, any_value(w2) AS w2, count(*) AS cab
      FROM grams GROUP BY 1 HAVING count(*) >= {min_count}
    ),
    scored AS (
      SELECT b.ngram, b.cab,
             CAST(floor((
               ln(CAST(b.cab AS DOUBLE)) - ln(CAST(a.cu AS DOUBLE))
               - ln(CAST(c.cu AS DOUBLE)) + 2 * ln(CAST(tt.tu AS DOUBLE))
               - ln(CAST(tt.tb AS DOUBLE))
             ) * 10000 + 0.5) AS BIGINT) AS pmi_q
      FROM big b
      JOIN cu a ON b.w1 = a.tok
      JOIN cu c ON b.w2 = c.tok
      CROSS JOIN totals tt
    )
    SELECT ngram, CAST(cab AS BIGINT) AS n_ab,
           CAST(pmi_q AS DOUBLE) / 10000.0 AS pmi
    FROM scored
    ORDER BY pmi DESC, ngram ASC
    LIMIT {k}
    """


def length_quantiles_histogram(
    df: DataFrame,
    group_col: str = "lang",
    bin_width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Histogram-sketch quantiles: per-group p25/p50/p75 token-count
    estimates from fixed integer bins (``bin = n DIV bin_width``; the
    estimate is the lower bound of the bin where the cumulative count
    reaches the nearest-rank position, so error <= bin_width-1, always
    biased low).  This is the BOUNDED-STATE scale path next to the exact
    :func:`length_quantiles_by_group`: state is |groups| x |bins| cells
    (mergeable by addition, streaming-friendly), and the rank windows run
    over those cells, never over documents.  All arithmetic is integer —
    deterministic and exactly mirrored by the oracle."""
    from pyspark.sql import Window

    lens = df.select(
        F.col(group_col).alias("grp"),
        F.expr(
            f"size(filter(split(lower(`{text_col}`), '\\\\s+'), t -> t != '')) "
            f"DIV {bin_width}"
        ).alias("bin"),
    )
    cells = lens.groupBy("grp", "bin").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("grp").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("grp")
    staged = cells.select(
        "grp",
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )

    def est(q_num: int, q_den: int, alias: str):
        rank = F.expr(f"({q_num} * n + {q_den} - 1) DIV {q_den}")
        return F.min(F.when(F.col("cum") >= rank, F.col("bin"))).alias(alias)

    return (
        staged.groupBy("grp")
        .agg(est(1, 4, "b25"), est(1, 2, "b50"), est(3, 4, "b75"))
        .select(
            F.col("grp").alias(group_col),
            (F.col("b25") * bin_width).cast("long").alias("p25_est"),
            (F.col("b50") * bin_width).cast("long").alias("p50_est"),
            (F.col("b75") * bin_width).cast("long").alias("p75_est"),
        )
    )


def length_quantiles_histogram_oracle_sql(
    table: str, group_col: str = "lang", bin_width: int = 8
) -> str:
    "DuckDB twin of :func:`length_quantiles_histogram` (same integer bins)."
    return f"""
    WITH lens AS (
      SELECT {group_col} AS grp,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS BIGINT) // {bin_width} AS bin
      FROM {table}
    ),
    cells AS (SELECT grp, bin, count(*) AS c FROM lens GROUP BY 1, 2),
    staged AS (
      SELECT grp, bin,
             SUM(c) OVER (PARTITION BY grp ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY grp) AS n
      FROM cells
    )
    SELECT grp AS {group_col},
           CAST(min(CASE WHEN cum >= (1 * n + 3) // 4 THEN bin END) * {bin_width} AS BIGINT) AS p25_est,
           CAST(min(CASE WHEN cum >= (1 * n + 1) // 2 THEN bin END) * {bin_width} AS BIGINT) AS p50_est,
           CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN bin END) * {bin_width} AS BIGINT) AS p75_est
    FROM staged GROUP BY 1
    """


def pack_texts(
    packed: DataFrame,
    chunks: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
) -> DataFrame:
    """Materialize packed training contexts: given the packing DECISION
    (``pack_chunks`` output) and the chunk texts, emit one row per pack
    with its chunks concatenated in stream order — the final "write the
    training examples" step after packing assigns positions.

    Order safety: ``collect_list`` over a shuffled relation has no
    deterministic order, so the chunks collect as (id, order, text)
    structs and ``array_sort`` restores stream order INSIDE the row
    before concatenation — the emitted text is identical across
    partitionings and retries.  One (pack_id) shuffle; each pack's
    payload is budget-bounded by construction, so rows stay small no
    matter the corpus size."""
    joined = packed.join(chunks, [id_col, order_col]).select(
        "pack_id",
        F.struct(
            F.col(id_col).alias("i"),
            F.col(order_col).alias("o"),
            F.col("chunk_text").alias("t"),
        ).alias("s"),
    )
    return (
        joined.groupBy("pack_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            "pack_id",
            F.size("ss").cast("long").alias("n_chunks"),
            F.concat_ws(
                " ", F.transform(F.col("ss"), lambda s: s.getField("t"))
            ).alias("pack_text"),
        )
    )


def pack_texts_oracle_sql(
    chunk_sql: str, budget: int
) -> str:
    """DuckDB twin of pack_chunks + pack_texts composed over a chunk
    relation (doc_id, chunk_id, n_tokens, chunk_text)."""
    return f"""
    WITH chunks AS ({chunk_sql}),
    cum AS (
      SELECT doc_id, chunk_id, n_tokens, chunk_text,
             coalesce(SUM(n_tokens) OVER (
               ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS c
      FROM chunks
    )
    SELECT CAST(c // {budget} AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           string_agg(chunk_text, ' ' ORDER BY doc_id, chunk_id) AS pack_text
    FROM cum
    GROUP BY 1
    """


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over the positional inverted index — grep at
    corpus scale without a per-query text scan.  Returns every
    (doc_id, match_pos) where the L-token ``phrase`` occurs contiguously
    under the shared whitespace tokenizer.

    Shape: the positional token relation (doc, pos, token) is the INDEX
    (at 100 TB it is persisted once, bucketed/partitioned by token so a
    query's postings prune at the scan); the query broadcast-joins the
    L-row (idx, token) phrase relation against it — only the phrase
    tokens' postings survive the join — and a single (doc, anchor)
    aggregation checks contiguity: a posting for phrase[idx] at pos
    aligns to anchor = pos - idx, and an anchor with all L distinct idx
    values present is a complete match.  One narrow explode + one
    postings-sized shuffle; no L-way self-join, no LIKE scan.

    Repeated tokens inside the phrase are handled by the distinct-idx
    count (each occupied position contributes every phrase slot it
    could fill; only a true alignment fills all L).  Matching is exact
    and case-normalized by the tokenizer; overlapping matches all
    report (one row per anchor).
    """
    if not phrase:
        raise ValueError("phrase_search: phrase must be non-empty")
    L = len(phrase)
    t = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    ph = docs.sparkSession.createDataFrame(
        [(i, w) for i, w in enumerate(phrase)], "idx long, token string"
    )
    hits = t.join(F.broadcast(ph), "token").select(
        "id", (F.col("pos") - F.col("idx")).alias("anchor"), "idx"
    )
    return (
        hits.groupBy("id", "anchor")
        .agg(F.countDistinct("idx").alias("__k"))
        .filter(F.col("__k") == L)
        .select(
            F.col("id").alias("doc_id"),
            F.col("anchor").cast("long").alias("match_pos"),
        )
        .orderBy("doc_id", "match_pos")
    )


def phrase_search_oracle_sql(table: str, phrase: list[str]) -> str:
    """DuckDB twin of :func:`phrase_search`: same tokenizer, same
    positional postings, same anchor-alignment distinct-idx check."""
    vals = ", ".join(
        f"({i}, '" + w.replace("'", "''") + "')" for i, w in enumerate(phrase)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM {table}
    ),
    t AS (
      SELECT id, i - 1 AS pos, toks[CAST(i AS INT)] AS token
      FROM toks
      CROSS JOIN (
        SELECT unnest(range(1, (
          SELECT CAST(max(len(toks)) AS BIGINT) + 1 FROM toks))) AS i
      ) idx
      WHERE i <= len(toks)
    ),
    ph(idx, token) AS (VALUES {vals}),
    hits AS (
      SELECT t.id, t.pos - ph.idx AS anchor, ph.idx
      FROM t JOIN ph ON t.token = ph.token
    )
    SELECT id AS doc_id, CAST(anchor AS BIGINT) AS match_pos
    FROM hits
    GROUP BY id, anchor
    HAVING count(DISTINCT idx) = {len(phrase)}
    ORDER BY doc_id, match_pos
    """


POSTINGS_BUCKETS = 256


def write_postings_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = POSTINGS_BUCKETS,
) -> None:
    """Persist the positional inverted index for :func:`phrase_search`:
    (doc, pos, token) rows written as parquet PARTITIONED BY a stable
    token hash bucket.  Partitioning by raw token would create a
    directory per distinct token (a filesystem DoS at corpus scale);
    ``n_buckets`` hash buckets keep the layout bounded while a query
    still prunes at file listing to its tokens' buckets, with the exact
    token equality pushed into the scan (PushedFilters — both asserted
    by test).  Build once over the corpus; every phrase query after
    reads only its tokens' buckets."""
    t = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
    )
    t.write.mode("overwrite").partitionBy("bucket").parquet(path)


def phrase_search_index(
    spark,
    path: str,
    phrase: list[str],
    n_buckets: int = POSTINGS_BUCKETS,
) -> DataFrame:
    """Phrase search over a PERSISTED postings index
    (:func:`write_postings_index`): identical anchor-alignment semantics
    to :func:`phrase_search`, but the corpus text is never touched —
    the phrase's hash buckets prune at file listing (PartitionFilters)
    and the token equality pushes into the parquet scan (PushedFilters),
    so a query's IO is its own tokens' postings, not the index.
    Results equal the in-memory form row-for-row (tested)."""
    if not phrase:
        raise ValueError("phrase_search_index: phrase must be non-empty")
    L = len(phrase)
    t = spark.read.parquet(path)
    # static pruning values computed with the SAME hash the writer used
    bucket_rows = spark.createDataFrame(
        [(w,) for w in sorted(set(phrase))], "token string"
    ).select(
        F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int").alias("b")
    ).collect()
    buckets = sorted({r["b"] for r in bucket_rows})
    pruned = t.filter(F.col("bucket").isin(buckets)).filter(
        F.col("token").isin(sorted(set(phrase)))
    )
    ph = spark.createDataFrame(
        [(i, w) for i, w in enumerate(phrase)], "idx long, token string"
    )
    hits = pruned.join(F.broadcast(ph), "token").select(
        "id", (F.col("pos") - F.col("idx")).alias("anchor"), "idx"
    )
    return (
        hits.groupBy("id", "anchor")
        .agg(F.countDistinct("idx").alias("__k"))
        .filter(F.col("__k") == L)
        .select(
            F.col("id").alias("doc_id"),
            F.col("anchor").cast("long").alias("match_pos"),
        )
        .orderBy("doc_id", "match_pos")
    )


# HTML -> text extraction passes, applied IN ORDER: drop non-content
# blocks wholesale (script/style/head/comments), break block-level
# boundaries into newlines so words from adjacent elements never fuse,
# strip remaining tags, decode the common entities, collapse whitespace.
# Pure regexp_replace chain — distributes with no Python in the path and
# replays identically in any engine with (?is)-capable regexes.
_HTML_PASSES: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?is)<head\b[^>]*>.*?</head>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)<(?:br|hr)\s*/?>", "\n"),
    (r"(?i)</?(?:p|div|li|ul|ol|tr|td|th|table|h[1-6]|blockquote|section|article|header|footer)\b[^>]*>", "\n"),
    (r"(?s)<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;|&apos;", "'"),
    # &amp; decodes LAST (standard unescape order): decoding it earlier
    # double-decodes escaped entities — '&amp;lt;' must render as the
    # literal '&lt;' the page displays, not '<'
    (r"&amp;", "&"),
    (r"[ \t\x0b\f\r]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{2,}", "\n"),
    (r"^\s+|\s+$", ""),
]


# ------------------------------------------------------------- URLs ---

_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_URL_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
# anchored scan: [^#?]* consumes up to the FIRST '?' or '#', so a '?'
# that appears only inside the fragment never parses as a query, and the
# query always starts at the first '?' (RFC 3986 §3.4)
_URL_QUERY_RE = r"^[^#?]*\?([^#]*)"
# scheme -> default port, stripped during canonicalization
_URL_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def normalize_url(col: Column) -> Column:
    """Crawl-pipeline URL canonicalization as a native Column chain — the
    key that makes URL-level dedup and per-host aggregation stable across
    crawls of the same page:

    - scheme and host lowercase (RFC 3986 §6.2.2.1); path case KEPT
      (paths are case-sensitive);
    - default port stripped (http:80 / https:443 / ftp:21), explicit
      non-default ports kept;
    - duplicate slashes in the path collapsed, empty path -> '/';
    - query parameters SORTED (the order-insensitive canonical form that
      makes '?a=1&b=2' and '?b=2&a=1' one URL), empty params dropped,
      empty query dropped;
    - fragment dropped (never sent to the server).

    Dot-segment resolution ('/a/../b') and percent-encoding
    normalization are NOT performed — documented trade, they need
    stateful passes.  Non-absolute inputs (no 'scheme://') yield NULL:
    relative links must be resolved against their page before entering a
    corpus-level key space."""
    scheme = F.lower(F.regexp_extract(col, _URL_SCHEME_RE, 1))
    auth = F.regexp_extract(col, _URL_AUTH_RE, 1)
    host = F.lower(F.regexp_extract(auth, r"^([^:]*)", 1))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    is_default = (port == "") | functools.reduce(
        lambda a, b: a | b,
        [
            (scheme == s) & (port == F.lit(p))
            for s, p in _URL_DEFAULT_PORTS.items()
        ],
    )
    path = F.regexp_extract(col, _URL_PATH_RE, 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(col, _URL_QUERY_RE, 1)
    qsorted = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda p: p != "")), "&"
    )
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(is_default, F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        path,
        F.when(qsorted == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qsorted)
        ),
    )
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(rebuilt)


def url_host(col: Column) -> Column:
    """The canonical (lowercased, port-stripped) host of an absolute URL
    — the partition key for per-site aggregation and politeness
    bucketing.  NULL for non-absolute inputs, like normalize_url."""
    auth = F.regexp_extract(col, _URL_AUTH_RE, 1)
    host = F.lower(F.regexp_extract(auth, r"^([^:]*)", 1))
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def normalize_url_expr_sql(col: str) -> str:
    """DuckDB expression twin of :func:`normalize_url` — same regexes
    (RE2-compatible by construction), same default-port table, same
    sorted-query form."""
    scheme = f"lower(regexp_extract({col}, '{_URL_SCHEME_RE}', 1))"
    auth = f"regexp_extract({col}, '{_URL_AUTH_RE}', 1)"
    host = f"lower(regexp_extract({auth}, '^([^:]*)', 1))"
    port = f"regexp_extract({auth}, ':([0-9]+)$', 1)"
    defaults = " OR ".join(
        f"({scheme} = '{s}' AND {port} = '{p}')"
        for s, p in _URL_DEFAULT_PORTS.items()
    )
    raw_path = f"regexp_replace(regexp_extract({col}, '{_URL_PATH_RE}', 1), '/{{2,}}', '/', 'g')"
    path = f"CASE WHEN {raw_path} = '' THEN '/' ELSE {raw_path} END"
    query = f"regexp_extract({col}, '^[^#?]*\\?([^#]*)', 1)"
    # COALESCE: DuckDB's array_to_string over an EMPTY list returns NULL
    # (Spark's array_join returns '') — without it a query-less URL
    # NULLs the whole rebuilt string through the concatenation
    qsorted = (
        f"COALESCE(array_to_string(list_sort(list_filter("
        f"string_split({query}, '&'), p -> p != '')), '&'), '')"
    )
    return f"""CASE WHEN {scheme} = '' THEN NULL ELSE
      {scheme} || '://' || {host}
      || CASE WHEN {port} = '' OR {defaults} THEN '' ELSE ':' || {port} END
      || {path}
      || CASE WHEN {qsorted} = '' THEN '' ELSE '?' || {qsorted} END
    END"""


def url_host_expr_sql(col: str) -> str:
    """DuckDB expression twin of :func:`url_host`."""
    auth = f"regexp_extract({col}, '{_URL_AUTH_RE}', 1)"
    host = f"lower(regexp_extract({auth}, '^([^:]*)', 1))"
    return f"CASE WHEN {host} = '' THEN NULL ELSE {host} END"


def html_extract_expr_sql(col: str) -> str:
    """The DuckDB expression mirroring :func:`html_to_text`'s pass chain
    — same patterns, same order, 'g' flag for Spark's replace-all
    default (the normalize_expr_sql pattern).  Exported so the WET gate
    oracle replays the extraction on the same constructed HTML."""
    expr = col
    for pat, repl in _HTML_PASSES:
        lit_pat = pat.replace("'", "''")
        lit_repl = repl.replace("'", "''")
        expr = f"regexp_replace({expr}, '{lit_pat}', '{lit_repl}', 'g')"
    return expr


def html_to_text(col: Column) -> Column:
    """Extract visible text from HTML markup — the WET-making step of a
    CommonCrawl-style pipeline (compose with sources.parse_warc_records
    over ``response`` records to turn raw crawl archives into a text
    corpus).  Regex-based by design: it distributes as a narrow Column
    chain, needs no parser library, and handles the non-content-block /
    tag / entity / whitespace cases that dominate real pages.  It is NOT
    a conforming HTML5 parser (CDATA inside scripts, conditional
    comments, and broken markup degrade gracefully to over-stripping) —
    documented trade, same contract as text.normalize_text."""
    for pat, repl in _HTML_PASSES:
        col = F.regexp_replace(col, pat, repl)
    return col


# ---------------------------------------------------------------------------
# robots.txt evaluation (RFC 9309) — the crawl-compliance filter.


def _robots_scan(robots_txt: str) -> tuple:
    """Single scan of a robots.txt body shared by :func:`parse_robots`
    and :func:`robots_directives`: returns ``(groups, sitemaps)`` where
    groups is ``[(agent_tokens, rules, crawl_delay)]`` — consecutive
    User-agent lines share one group, Allow/Disallow/Crawl-delay open
    the group body (a later User-agent then starts a NEW group) — and
    sitemaps is the file-order list of ``Sitemap:`` values, which the
    robots.txt spec scopes to the FILE, not to any group.  Comments and
    unknown directives are ignored; an unparseable Crawl-delay value is
    treated as absent."""
    groups: list = []  # (agent_tokens, rules, crawl_delay)
    sitemaps: list = []
    cur_agents: list = []
    cur_rules: list = []
    cur_delay = None
    in_group_body = False
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "sitemap":
            if val:
                sitemaps.append(val)
            continue  # global: never opens or closes a group body
        if key == "user-agent":
            if in_group_body:
                groups.append((cur_agents, cur_rules, cur_delay))
                cur_agents, cur_rules, cur_delay = [], [], None
                in_group_body = False
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_group_body = True
            if val:
                cur_rules.append((key == "allow", val))
            # an empty Disallow means "allow everything": no rule
        elif key == "crawl-delay":
            in_group_body = True
            try:
                if cur_delay is None:
                    cur_delay = float(val)
            except ValueError:
                pass
    if cur_agents:
        groups.append((cur_agents, cur_rules, cur_delay))
    return groups, sitemaps


def _robots_best_token(groups: list, agent: str):
    """RFC 9309 group selection: the User-agent token that is the
    LONGEST case-insensitive prefix of ``agent``; ``*`` (score 0) is
    the fallback; ties break lexicographically for determinism."""
    agent_l = agent.lower()
    best_score = -1
    best_token = None
    for agents, _rules, _delay in groups:
        for a in agents:
            if a == "*":
                score = 0
            elif agent_l.startswith(a):
                score = len(a)
            else:
                continue
            if score > best_score or (
                score == best_score and (best_token is None or a < best_token)
            ):
                best_score, best_token = score, a
    return best_token


def parse_robots(robots_txt: str, agent: str = "*") -> list:
    """Parse a robots.txt body and return the rule list for ``agent``
    as ``(allow: bool, pattern: str)`` tuples, per RFC 9309 group
    selection: the group whose ``User-agent`` token is the LONGEST
    case-insensitive prefix of ``agent`` wins; the ``*`` group is the
    fallback; consecutive user-agent lines share one group.  Patterns
    keep their ``*`` wildcards and ``$`` end anchor verbatim — matching
    happens in :func:`apply_robots`.  Empty Disallow lines (allow all)
    are dropped, comments and unknown directives ignored; Crawl-delay
    and Sitemap lines are surfaced by :func:`robots_directives`."""
    # RFC 9309 §2.2.1: groups sharing the matched user-agent MUST be
    # combined — real robots.txt files are often fragment-assembled
    # with several `User-agent: *` blocks.
    groups, _sitemaps = _robots_scan(robots_txt)
    best_token = _robots_best_token(groups, agent)
    if best_token is None:
        return []
    merged: list = []
    for agents, rules, _delay in groups:
        if best_token in agents:
            merged.extend(rules)
    return merged


def robots_directives(robots_txt: str, agent: str = "*") -> dict:
    """The auxiliary robots.txt directives a crawl frontier consumes
    next to the Allow/Disallow rules: ``{"crawl_delay": float | None,
    "sitemaps": [str, ...]}``.

    ``Sitemap:`` lines are FILE-scoped per the sitemaps.org robots
    extension (they may appear anywhere; all are returned, file order).
    ``Crawl-delay`` is the conventional group-scoped extension (Bing/
    Yandex semantics; RFC 9309 doesn't define it): the value comes from
    the same winning agent group :func:`parse_robots` selects, first
    non-None across merged same-agent groups, None when the group sets
    none.  Compose with :func:`parse_sitemap_any` and
    :func:`apply_robots` for the full frontier chain: robots ->
    sitemaps -> URL filter -> delay-aware scheduling."""
    groups, sitemaps = _robots_scan(robots_txt)
    best_token = _robots_best_token(groups, agent)
    delay = None
    if best_token is not None:
        for agents, _rules, d in groups:
            if best_token in agents and d is not None and delay is None:
                delay = d
    return {"crawl_delay": delay, "sitemaps": sitemaps}


def schedule_frontier(
    urls: DataFrame,
    delays: DataFrame | None = None,
    url_col: str = "url",
    default_delay_ms: int = 1000,
    n_shards: int = 64,
    priority_col: str | None = None,
    banded_numbering: bool | str = False,
    n_bands: int | None = None,
    keep_delay: bool = False,
) -> DataFrame:
    """Politeness scheduling for a crawl frontier — the step after
    robots/sitemap ingestion that turns a URL set into a fetch plan a
    1000-worker crawler can execute without hammering any host:

    - ``host``: the URL's authority with userinfo and port STRIPPED,
      lowercased (politeness is per-host; RFC 3986 hosts are
      case-insensitive, and ``http://u@h.test/`` / ``http://h.test:8080/``
      must share ``h.test``'s queue and its Crawl-delay — a raw-authority
      key would silently split them into separate politeness queues and
      miss the broadcast delay join);
    - ``shard`` = md5-60(host) mod ``n_shards`` — ALL of a host's URLs
      land in ONE shard, so per-host FIFO needs no cross-shard
      coordination and each fetcher worker owns its shards outright;
    - ``fetch_seq``: the URL's position in its host's queue
      (row_number ordered by the URL string — deterministic and
      append-stable for a fixed URL set).  With ``priority_col`` the
      queue orders by that column DESCENDING instead (URL string as the
      deterministic tie-break): this is how a curation crawl closes the
      select -> schedule loop, feeding a novelty or quality score
      (:func:`adtl_spark.operators.corpus.ngram_novelty`) straight into
      the fetch plan so each host's politeness budget is spent on its
      most valuable URLs first — same window, same single shuffle, only
      the ordering key changes;
    - ``fetch_after_ms`` = (fetch_seq - 1) x the host's delay —
      ``delays`` is a small (host, delay_ms) relation (robots
      Crawl-delay values, :func:`robots_directives`) joined as a
      BROADCAST; hosts without an entry get ``default_delay_ms``.

    One shuffle (the per-host window partition); the delay side never
    shuffles the URL relation.  Host skew is INHERENT to the OUTPUT
    here — a 100M-page host is one sequential politeness queue by
    definition — but not to the COMPUTE: ``banded_numbering=True``
    swaps the single per-host window for an exact-equivalent banded
    plan (range-partition by (host, order), number within (host,
    band), add per-host prefix-sum offsets of the tiny (host, band)
    count relation over ``n_bands`` bands), so no partition ever holds
    a whole monster host; ~3 bounded shuffles instead of 1 unbounded
    one — measured 2.07x hot-host penalty in the default plan at 2.5M
    hot rows (tools/scale_stress.py --hot-host), the banded plan's
    worst partition stays corpus/n_bands.  Default stays the single
    window: cheapest for ordinary host distributions.
    ``banded_numbering="auto"`` picks the plan from the DATA: a real
    crawl doesn't know in advance when a host crosses the skew
    threshold, so auto mode runs one extra aggregate-only job over the
    frontier (groupBy(host).count() with map-side combine — a single
    collected row, never the URL rows) and switches to the banded plan
    exactly when the largest host's queue exceeds the banded plan's
    per-band bound (max host count > total/n_bands — below that the
    plain window's worst partition is already no worse than a band,
    and the plain plan's single shuffle is cheaper, per the 1.03x
    stress row).  Both sides of the threshold produce identical
    values; only the physical plan changes.
    ``keep_delay=True`` keeps the resolved per-host ``delay_ms``
    column on the output — the hook the streaming continuation sink
    (:func:`adtl_spark.streaming.pipeline.frontier_sink`) uses to
    re-derive ``fetch_after_ms`` after adding cross-batch offsets.
    Fully SQL-replayable (md5-60 shard + row_number twin).  Non-URL
    rows (no ``scheme://authority``) yield a NULL host and schedule in
    their own bucket — filter upstream if they should not fetch."""
    # authority -> host: drop userinfo (everything through the last '@')
    # and a trailing ':port' (RFC 3986 §3.2 — the registered name is the
    # politeness key, not the full authority)
    authority = F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1
    )
    host = F.lower(
        F.nullif(
            F.regexp_replace(
                F.regexp_replace(authority, "^.*@", ""), ":[0-9]+$", ""
            ),
            F.lit(""),
        )
    )
    from adtl_spark.operators.dedup import md5_60

    out = urls.withColumn("host", host)
    if delays is not None:
        d = delays.select(
            F.lower(F.col("host")).alias("host"),
            F.col("delay_ms").cast("long").alias("__delay"),
        )
        out = out.join(F.broadcast(d), "host", "left")
    else:
        out = out.withColumn("__delay", F.lit(None).cast("long"))
    order = (
        [F.col(priority_col).desc(), F.col(url_col)]
        if priority_col is not None
        else [F.col(url_col)]
    )
    if banded_numbering == "auto":
        sc = urls.sparkSession.sparkContext
        bands = int(n_bands) if n_bands else sc.defaultParallelism * 4
        row = (
            out.groupBy("host")
            .count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
            .first()
        )
        mx, tot = row["mx"] or 0, row["tot"] or 0
        banded_numbering = mx * bands > tot
    if banded_numbering:
        # EXACT-EQUIVALENT hot-host-safe numbering: a monster host makes
        # the plain per-host window ONE partition (measured 2.07x at
        # 2.5M hot rows — tools/scale_stress.py --hot-host).  Instead,
        # range-partition by (host, order...) so each host's queue is
        # split across contiguous partitions IN ORDER, number within
        # (host, partition) — every window partition is now bounded by
        # the range-partition size — and add per-host prefix-sum offsets
        # of the (host, partition) counts (a relation of ~n_bands +
        # #hosts rows).  Same fetch_seq values as the plain window (ties
        # may permute, as in any row_number), at the cost of ~3 bounded
        # shuffles instead of 1 unbounded one.  spark_partition_id is
        # captured as a column right after the range exchange, so the
        # usual deterministic-input caveat applies (see apply_robots).
        sc = urls.sparkSession.sparkContext
        bands = int(n_bands) if n_bands else sc.defaultParallelism * 4
        # An eager cut pins the band ids: the ranged relation feeds
        # BOTH the count aggregate and the numbering join, and without
        # materialization the range exchange is evaluated twice — AQE
        # may coalesce its partitions differently per evaluation, and
        # spark_partition_id would then disagree between the two
        # consumers (observed: wrong offsets on a 20k-row run).  One
        # bounded materialization of the frontier buys consistency.  The
        # cut must be eager: a lazy reliable checkpoint writes its files
        # in a second job that re-runs the range exchange.
        ranged = cut(
            out.repartitionByRange(bands, F.col("host"), *order)
            .withColumn("__pid", F.spark_partition_id())
        )
        within = F.row_number().over(
            Window.partitionBy("host", "__pid").orderBy(*order)
        )
        offs = (
            ranged.groupBy("host", "__pid")
            .count()
            .withColumn(
                "__off",
                F.coalesce(
                    F.sum("count").over(
                        Window.partitionBy("host")
                        .orderBy("__pid")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .select("host", "__pid", "__off")
        )
        out = (
            ranged.withColumn("__within", within)
            # shuffle-hash: the offsets relation (~n_bands + #hosts
            # rows) is the build side; sorting the URL relation for an
            # SMJ would be pure waste, and a broadcast is wrong at
            # scale (#hosts can be millions)
            .join(offs.hint("shuffle_hash"), ["host", "__pid"])
            .withColumn(
                "fetch_seq",
                (F.col("__off") + F.col("__within")).cast("long"),
            )
            .drop("__pid", "__within", "__off")
        )
    else:
        seq = F.row_number().over(Window.partitionBy("host").orderBy(*order))
        out = out.withColumn("fetch_seq", seq.cast("long"))
    delay = F.coalesce(F.col("__delay"), F.lit(int(default_delay_ms)))
    out = (
        out.withColumn("shard", F.pmod(md5_60(F.col("host")), F.lit(n_shards)).cast("int"))
        .withColumn(
            "fetch_after_ms", ((F.col("fetch_seq") - 1) * delay).cast("long")
        )
    )
    if keep_delay:
        out = out.withColumn("delay_ms", delay.cast("long"))
    return out.drop("__delay")


def _robots_like(pattern: str) -> tuple:
    """Translate a robots path pattern to (SQL LIKE pattern, match_len):
    ``*`` becomes ``%``, a trailing ``$`` anchors (no trailing ``%``),
    LIKE metacharacters are escaped with ``\\``.  match_len is the
    specificity (pattern octets, ``$`` excluded) RFC 9309 ranks by."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    like = (
        body.replace("\\", "\\\\")
        .replace("%", "\\%")
        .replace("_", "\\_")
        .replace("*", "%")
    )
    if not anchored:
        like += "%"
    return like, len(body)


def apply_robots(
    urls: DataFrame, rules: list, url_col: str = "url"
) -> DataFrame:
    """Evaluate RFC 9309 rules against a URL relation: adds ``path``
    (path PLUS query, fragment dropped — the RFC match target, so
    ``Disallow: /*?sessionid=`` works), ``allowed`` (boolean) and
    ``rule`` (the winning pattern, NULL when no rule matched — which
    allows by default).  Longest-match wins; at equal length Allow
    beats Disallow (the RFC tie-break).

    The rule list broadcasts (robots files are tiny) and matching is a
    broadcast LIKE theta-join — URLs never shuffle; the verdict per URL
    is one max_by over its matched rules.  Wildcards map to SQL LIKE
    exactly (``*`` -> ``%``, ``$`` -> anchor), so a DuckDB twin replays
    the evaluation with the same patterns.

    Cardinality-preserving: rows are re-assembled after the rule join
    on a per-row surrogate key, so fully-duplicate input rows (routine
    in a raw crawl URL log) come back as the same number of rows, not
    collapsed into one.  The surrogate key is
    ``monotonically_increasing_id``, so the INPUT MUST BE DETERMINISTIC
    (a file read, not e.g. a non-deterministic sample): under task retry
    or speculative re-execution a non-deterministic upstream could
    assign different ids across attempts and double-count or drop rows
    in the reassembly — the same row-identity contract the engine's
    lastNotNull path documents (plans/tables.py: attach_row_id).
    Materialize (``df.localCheckpoint()``) a non-deterministic input
    before calling."""
    spark = urls.sparkSession
    # RFC 9309 matches against path AND query (the Google matcher's
    # '/fish' matches '/fish.php?id=x'); only the fragment is dropped
    path = F.regexp_extract(
        F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/]*(/[^#]*)?", 1
    )
    base = urls.withColumn("path", F.when(path == "", "/").otherwise(path))
    if not rules:
        return base.select(
            "*", F.lit(True).alias("allowed"),
            F.lit(None).cast("string").alias("rule"),
        )
    # per-row surrogate key: the post-join reassembly groups on it, so
    # duplicate input rows keep their cardinality (mid is deterministic
    # per partition given a deterministic upstream, the standard
    # row-identity contract the engine's lastNotNull path also uses)
    base = base.withColumn("__rid", F.monotonically_increasing_id())
    rows = []
    for allow, pattern in rules:
        like, mlen = _robots_like(pattern)
        rows.append((bool(allow), pattern, like, mlen))
    rdf = spark.createDataFrame(
        rows, "allow boolean, rule string, like string, mlen int"
    )
    matched = base.join(
        F.broadcast(rdf),
        F.expr("path LIKE like ESCAPE '\\\\'"),
        "left",
    )
    win = F.max_by(
        F.struct(F.col("allow"), F.col("rule")),
        # specificity, then Allow on ties (RFC 9309 §2.2.2)
        F.struct(F.col("mlen"), F.col("allow").cast("int")),
    )
    key_cols = [c for c in base.columns]
    out = matched.groupBy(*key_cols).agg(win.alias("__w"))
    return out.select(
        *[c for c in key_cols if c != "__rid"],
        F.coalesce(F.col("__w.allow"), F.lit(True)).alias("allowed"),
        F.col("__w.rule").alias("rule"),
    )


# Unicode scripts profiled, in priority order (ties in dominant-script
# selection break toward the earlier entry): (key, Java regex script
# name, RE2/DuckDB script name — the twin names differ only by the
# 'Is' prefix).
_SCRIPT_CLASSES = (
    ("latin", "IsLatin"),
    ("cyrillic", "IsCyrillic"),
    ("han", "IsHan"),
    ("arabic", "IsArabic"),
    ("greek", "IsGreek"),
)


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script histogram per document — the language-ID adjunct
    that catches what n-gram langid cannot: mixed-script spam, wrong-
    charset mojibake (cp1252-as-utf-8 turns Latin text into stray
    Cyrillic/Greek codepoints), and CJK content inside a nominally
    Latin corpus.  Per document: ``n_chars`` (codepoints), one
    ``n_<script>`` count per profiled script (Latin, Cyrillic, Han,
    Arabic, Greek), and ``dominant`` — the script with the highest
    count, ties broken by the fixed profile order, ``'none'`` when no
    profiled script occurs.

    Entirely native Columns: each count is one regexp_replace (strip
    the complement class) + length, so the whole profile is a narrow
    whole-stage-codegen chain with no shuffle at all; Java's
    ``\\p{IsX}`` and RE2's ``\\p{X}`` agree on script membership, so a
    DuckDB twin replays every count."""
    counts = {
        k: F.length(
            F.regexp_replace(F.col(text_col), f"[^\\p{{{java}}}]", "")
        ).cast("long")
        for k, java in _SCRIPT_CLASSES
    }
    best = F.greatest(*counts.values())
    dominant = F.lit("none")
    for k, _ in reversed(_SCRIPT_CLASSES):
        # walked in reverse so earlier scripts overwrite on ties
        dominant = F.when(
            (counts[k] == best) & (best > 0), F.lit(k)
        ).otherwise(dominant)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        *[counts[k].alias(f"n_{k}") for k, _ in _SCRIPT_CLASSES],
        dominant.alias("dominant"),
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (default NFC) — the dedup-critical text
    prep step: composed ``é`` (U+00E9) and decomposed ``e`` + U+0301
    are different strings to every hash/shingle/groupBy in the pipeline
    and the SAME string after normalization, so corpora assembled from
    mixed sources (macOS filenames and HTML forms ship decomposed)
    must normalize before any dedup key is computed.  Emits the id,
    ``text_nfc`` and the before/after codepoint counts (a cheap
    how-much-changed signal).  Arrow ``mapInPandas`` over stdlib
    ``unicodedata`` — Spark has no native normalizer; per-row work is
    one C-implemented call, so it distributes like the codec
    operators.  NFC's oracle twin is DuckDB's ``nfc_normalize``; other
    forms (NFD/NFKC/NFKD) run the same path but have no SQL twin."""
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import unicodedata

        for pdf in batches:
            rows = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                out = unicodedata.normalize(form, t)
                rows.append((int(did), out, len(t), len(out)))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "text_nfc", "n_chars_before", "n_chars_after"],
            )

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} long, text_nfc string, "
            "n_chars_before long, n_chars_after long"
        ),
    )


def compression_signal(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Compression-ratio quality signal (the Gopher/RefinedWeb-family
    heuristic the n-gram repetition stats cannot see: long-range and
    approximate redundancy): per document,
    ``ratio_q4 = floor(compressed_bytes / raw_bytes * 10000)`` with
    stdlib zlib at a fixed ``level`` — machine-generated or boilerplate
    text sits far below natural prose.  Adds ``n_bytes`` (raw UTF-8
    length).  Arrow ``mapInPandas``; this is the one quality signal
    that inherently needs a compressor, so unlike the rest of the
    quality family it is Python-per-payload by nature (documented;
    bytes-in, two-longs-out, so it distributes like the codec ops).
    Deterministic for a fixed zlib build; the gate therefore pins exact
    byte counts plus an ORDER invariant (repeated text must compress
    strictly better) rather than the zlib-version-dependent ratio."""
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            rows = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                if not raw:
                    rows.append((int(did), 0, None))
                    continue
                comp = len(zlib.compress(raw, level))
                rows.append(
                    (int(did), len(raw), comp * 10000 // len(raw))
                )
            yield pd.DataFrame(rows, columns=[id_col, "n_bytes", "ratio_q4"])

    return df.mapInPandas(
        run, schema=f"{id_col} long, n_bytes long, ratio_q4 long"
    )


# The five predefined XML entities (XML 1.0 §4.6).  &amp; decodes LAST:
# double-escaped text ('&amp;lt;') must come back one level ('&lt;'),
# never two ('<') — decoding &amp; first would re-expose entity heads.
_XML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)


def xml_unescape(col: Column) -> Column:
    """Decode the five predefined XML entities as a native Column chain
    (literal replace, no regex) — what sitemap ``<loc>`` values need,
    where ``&`` in query strings MUST be escaped per the sitemaps.org
    spec.  Numeric character references (``&#NNN;``) are out of scope
    (vanishingly rare in URLs; they pass through verbatim).  The DuckDB
    twin is the same five replace() calls in the same order."""
    for ent, ch in _XML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def parse_sitemap(
    df: DataFrame, xml_col: str = "xml", keep_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Extract URL entries from sitemap.xml ``<urlset>`` documents (the
    crawl frontier's other input next to robots.txt): one output row per
    ``<url>`` block with ``(url_pos, loc, lastmod)`` — ``lastmod`` NULL
    when absent, ``loc`` XML-entity-decoded (:func:`xml_unescape` — the
    spec REQUIRES escaping ``&`` in URLs, so the decode belongs to the
    parse, not the caller).  Entirely native Columns: split on
    ``</url>`` then per-block regexp extraction, so blocks with optional
    fields never mis-pair positionally and the whole parse is
    SQL-replayable (no lookarounds — RE2-safe).  ``<sitemapindex>``
    files (how large sites actually publish) yield zero rows here —
    filtered out EXPLICITLY, because their ``<sitemap><loc>`` children
    would otherwise leak through the block-less extraction as page
    URLs; route mixed inputs through :func:`parse_sitemap_any`, which
    extracts those child-sitemap pointers as their own kind."""
    blocks = F.split(F.col(xml_col), "</url>")
    exploded = df.filter(
        ~F.col(xml_col).contains("<sitemapindex")
    ).select(
        *keep_cols, F.posexplode(blocks).alias("url_pos", "__block")
    )
    loc = F.regexp_extract(F.col("__block"), r"<loc>\s*([^<]+?)\s*</loc>", 1)
    lastmod = F.regexp_extract(
        F.col("__block"), r"<lastmod>\s*([^<]+?)\s*</lastmod>", 1
    )
    return exploded.select(
        *keep_cols,
        F.col("url_pos").cast("long").alias("url_pos"),
        xml_unescape(loc).alias("loc"),
        F.when(lastmod != "", lastmod).alias("lastmod"),
    ).filter(F.col("loc") != "")


def parse_sitemap_any(
    df: DataFrame, xml_col: str = "xml", keep_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Sitemap ingestion over a MIXED corpus of ``<urlset>`` and
    ``<sitemapindex>`` files — the shape a crawl frontier actually sees,
    because the first fetch from a large site is almost always an index
    whose ``<sitemap><loc>`` children must go back into the fetch queue.
    One output row per entry: ``(entry_pos, kind, loc, lastmod)`` with
    ``kind`` = ``'url'`` (a page to crawl) or ``'sitemap'`` (a child
    sitemap to fetch — the one level of recursion the sitemaps.org spec
    allows: indexes may not point at other indexes).

    Single pass, entirely native Columns: each document is exactly one
    of the two kinds, so splitting on ``</url>|</sitemap>`` is exact
    for both (the other tag never occurs), kind comes from one
    document-level ``contains`` test, and per-block field extraction +
    entity decode are shared with :func:`parse_sitemap` — the corpus is
    scanned once, not once per kind.  ``loc`` values are
    XML-entity-decoded; loc-less blocks (and the trailing post-split
    fragment) are dropped."""
    is_index = F.col(xml_col).contains("<sitemapindex")
    blocks = F.split(F.col(xml_col), r"</url>|</sitemap>")
    exploded = df.select(
        *keep_cols,
        is_index.alias("__idx"),
        F.posexplode(blocks).alias("entry_pos", "__block"),
    )
    loc = F.regexp_extract(F.col("__block"), r"<loc>\s*([^<]+?)\s*</loc>", 1)
    lastmod = F.regexp_extract(
        F.col("__block"), r"<lastmod>\s*([^<]+?)\s*</lastmod>", 1
    )
    return exploded.select(
        *keep_cols,
        F.col("entry_pos").cast("long").alias("entry_pos"),
        F.when(F.col("__idx"), F.lit("sitemap"))
        .otherwise(F.lit("url"))
        .alias("kind"),
        xml_unescape(loc).alias("loc"),
        F.when(lastmod != "", lastmod).alias("lastmod"),
    ).filter(F.col("loc") != "")
