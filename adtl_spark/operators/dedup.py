"""Deduplication operators for training-data pipelines.

Five families, each with the partition/shuffle story thought through for the
100 TB regime:

- **exact**: group on sha2(text) — 64-byte shuffle keys instead of document
  bodies; one shuffle, map-side partial aggregation.
- **n-gram Jaccard**: shingle -> explode -> self-join on shingle ->
  pair-count.  The join key is a 60-bit shingle hash (not the shingle
  string).  A document-frequency cap drops ubiquitous shingles (stopword
  shingles create quadratic pair blowup at scale).
- **MinHash + LSH**: k deterministic permutations -> b bands of r rows ->
  band-bucket join produces candidates; similarity estimated from matching
  minhashes.  Avoids the all-pairs O(n^2) entirely; each band join is an
  equi-join Catalyst shuffles on a short key.
- **SimHash**: 48-bit weighted-token signature; near-dup = small hamming
  distance.  Banded by the high bits for candidate generation.
- **embedding near-dup**: cosine >= tau over normalized vectors (see
  similarity.py for the ANN machinery).

Hashing is md5-based (low 60 bits) everywhere so every operator has an
exact DuckDB-SQL twin for the correctness oracle — no engine-specific hash
functions on either side.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.operators.graph import _gated_broadcast
from adtl_spark.session import cut, cut_and_release

# deterministic 31-bit modulus for minhash permutations (fits multiplication
# by 31-bit coefficients inside int64)
MERSENNE_31 = 2_147_483_647


def md5_60(col: Column) -> Column:
    """Low 60 bits of md5 as a non-negative BIGINT — portable across Spark
    (conv) and DuckDB (0x-cast), identical values both sides."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_60_sql(expr: str) -> str:
    "DuckDB twin of md5_60"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_coefficients(k: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod M31 — generated
    by a fixed LCG so the oracle SQL embeds the same constants."""
    coeffs = []
    state = seed
    for _ in range(k):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state | 1  # odd, non-zero
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state
        coeffs.append((a % MERSENNE_31, b % MERSENNE_31))
    return coeffs


# --------------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical doc per identical text = lowest id.  Grouping
    key is sha2(text) so the shuffle moves 64-byte keys, not documents."""
    h = F.sha2(F.col(text_col), 256)
    return (
        df.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """CCNet-style repeated-paragraph removal (Wenzek et al. 2020 §3.1):
    split each document on ``sep``, count how many DISTINCT documents
    each normalized paragraph (lower+trim) appears in, drop every
    paragraph whose document frequency reaches ``min_df`` (boilerplate:
    navigation, cookie banners, license headers), and reassemble the
    survivors in original order.  Every input document appears in the
    output — fully-boilerplate documents come back with empty text and
    n_kept = 0, which is the signal a downstream length filter acts on.

    Scale shape: the corpus shuffles once keyed by the normalized-
    paragraph key to build the frequency relation, once for the flag
    join (paragraph-vocabulary-sized build side; AQE picks the
    strategy), and ONCE by document id for a single aggregation that
    computes the reassembled text and both counts together (dropped
    paragraphs become null structs, which collect_list skips).
    Paragraph POSITION rides the rows (posexplode), so reassembly is an
    array_sort, not a window.

    Output: (id_col, text, n_kept, n_removed); empty paragraphs are
    dropped from both counts."""
    return paragraph_dedup_apply(
        df,
        paragraph_freq(df, text_col=text_col, id_col=id_col, sep=sep),
        min_df=min_df,
        text_col=text_col,
        id_col=id_col,
        sep=sep,
    )


def _paragraph_parts(df, text_col: str, id_col: str, sep: str) -> DataFrame:
    """(__id, __pos, __para, __key) rows: posexplode on ``sep``, empty
    paragraphs dropped, key = lower+trim — shared by the one-shot and
    the maintained-store paragraph-dedup paths so the two can never
    disagree on splitting or normalization."""
    parts = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "__pos", "__para"
        ),
    ).filter(F.trim(F.col("__para")) != "")
    return parts.withColumn("__key", F.lower(F.trim(F.col("__para"))))


def paragraph_freq(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """The paragraph document-frequency relation (__key, __pdf) of a
    corpus — the model side of CCNet paragraph dedup, exposed so a
    stream can MAINTAIN it incrementally (streaming.paragraph_freq_sink):
    document ids are counted distinct within the input, so deltas from
    disjoint-id batches add exactly."""
    return _paragraph_parts(df, text_col, id_col, sep).groupBy("__key").agg(
        F.countDistinct("__id").alias("__pdf")
    )


def paragraph_dedup_apply(
    df: DataFrame,
    freq: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Apply CCNet paragraph dedup against an EXTERNAL frequency
    relation (__key, __pdf) — same flag join + single-agg reassembly as
    :func:`paragraph_dedup`, but the frequencies may come from a
    maintained store covering documents beyond ``df`` (the incremental-
    crawl shape: score today's batch against the whole crawl history).
    Keys absent from ``freq`` count as unseen (kept)."""
    parts = _paragraph_parts(df, text_col, id_col, sep)
    freq = freq.select("__key", "__pdf")
    keep = F.coalesce(F.col("__pdf"), F.lit(0)) < min_df
    agg = (
        parts.join(freq, "__key", "left")  # unseen keys kept (null pdf)
        .groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("__pos", "__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("text"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.count(F.lit(1)).cast("long").alias("__n_all"),
        )
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (
                F.coalesce(F.col("__n_all"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


def paragraph_dedup_oracle_sql(
    pages_sql: str, min_df: int = 2, sep: str = "\n\n"
) -> str:
    """DuckDB twin of :func:`paragraph_dedup` over a subquery yielding
    (doc_id, page): literal string_split, the same lower+trim key, the
    same distinct-document frequency threshold, list(... ORDER BY pos)
    reassembly."""
    s = sep.replace("'", "''")
    return f"""
    WITH pages AS ({pages_sql}),
    parts AS (
      SELECT doc_id, i - 1 AS pos, lst[CAST(i AS INT)] AS para
      FROM (SELECT doc_id, string_split(page, '{s}') AS lst FROM pages),
           LATERAL (SELECT unnest(generate_series(1, len(lst))) AS i) g
    ),
    np AS (SELECT * FROM parts WHERE trim(para) != ''),
    freq AS (
      SELECT lower(trim(para)) AS key, count(DISTINCT doc_id) AS pdf
      FROM np GROUP BY 1
    ),
    kept AS (
      SELECT np.doc_id, np.pos, np.para
      FROM np JOIN freq f ON lower(trim(np.para)) = f.key
      WHERE f.pdf < {min_df}
    ),
    agg AS (
      SELECT doc_id,
             array_to_string(list(para ORDER BY pos), '{s}') AS text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_all FROM np GROUP BY doc_id)
    SELECT p.doc_id,
           COALESCE(a.text, '') AS text,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(t.n_all, 0) - COALESCE(a.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM pages p
    LEFT JOIN tot t ON t.doc_id = p.doc_id
    LEFT JOIN agg a ON a.doc_id = p.doc_id
    ORDER BY p.doc_id
    """


# ------------------------------------------------------------ n-gram Jaccard


def shingle_df(
    df: DataFrame, text_col: str, id_col: str, n: int, carry: list[str] | None = None
) -> DataFrame:
    """(id, shingle_hash[, *carry]) pairs, one row per distinct word-n-gram
    per doc.  ``carry`` columns ride along on every shingle row (cheap for
    narrow columns; saves the caller a join back to the doc table).

    Tokenization is materialized as its own projection first: expressions
    inside higher-order-function lambdas are not common-subexpression-
    eliminated by Catalyst, so referencing the tokenizer inline would re-run
    the regex split once per shingle instead of once per document."""
    carry = carry or []
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    tokenized = df.select(F.col(id_col).alias("id"), toks.alias("toks"), *carry)
    tcol = F.col("toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(tcol) - (n - 1), F.lit(1)))
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(tcol, i + j) for j in range(n)]
            ),
        )
    )
    return tokenized.select(
        "id", F.explode(grams).alias("shingle"), *carry
    ).select("id", md5_60(F.col("shingle")).alias("sh"), *carry)


def dedup_ngram_jaccard(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq_frac: float | None = 0.2,
) -> DataFrame:
    """All pairs with Jaccard(shingles_a, shingles_b) >= threshold.

    inter(a,b) via self-join on shingle hash; |a|,|b| via per-doc counts;
    jaccard = inter / (|a| + |b| - inter) over the *filtered* vocabulary:
    shingles present in more than ``max_doc_freq_frac`` of all documents are
    dropped before pairing.  Ubiquitous shingles contribute
    sum(df^2) join rows for near-zero discriminative power — the cap is what
    keeps this operator sub-quadratic at 100 TB (and it is part of the
    operator's definition: the DuckDB oracle applies the same cap).

    Exact duplicates are collapsed before shingling and pairs are expanded
    back afterwards — byte-identical semantics (duplicate docs have
    identical shingle sets; document frequencies are weighted by group
    multiplicity so the cap behaves exactly as on the raw corpus) at a
    fraction of the join cost on duplicate-heavy corpora.
    """

    # ---- exact-duplicate collapse (semantics-preserving) -----------------
    # one shuffle: identical texts share a hash, so any_value picks the
    # text and min(id) the canonical doc in the same aggregation
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        F.sha2(F.col(text_col), 256).alias("__th"),
    )
    # persisted: three consumers (membership, the shingle pass, self-pairs)
    # would otherwise each re-plan the text-carrying aggregation — Spark
    # plans trees, not DAGs, and only persist/checkpoint makes sharing real.
    # This is the collapsed corpus you would checkpoint at scale anyway.
    canon_full = hashed.groupBy("__th").agg(
        F.min("id").alias("__canon"),
        F.any_value("__text").alias("__ctext"),
        F.count(F.lit(1)).alias("__gsize"),
    ).persist()
    membership = (
        hashed.select("id", "__th")
        .join(canon_full.select("__th", "__canon"), "__th")
        .persist()
    )
    canon = canon_full.select(
        F.col("__canon").alias("id"),
        F.col("__ctext").alias(text_col),
        F.col("__gsize"),
    )

    # the shingle relation feeds three consumers (prefix join, doc-set
    # arrays, frequency filter); persist the compact (id, sh, df) rows so
    # tokenization+explode runs once, not three times
    sh = shingle_df(canon, text_col, "id", n, carry=["__gsize"])
    # multiplicity-weighted df as a window over the SAME shingle relation
    # (r13, guide §2.2): the old groupBy + join-back gave the shingle
    # pass two consumers, executing tokenization+explode twice; the
    # window is one shuffle by sh and the integers are identical
    from pyspark.sql import Window

    sh = sh.select(
        "id",
        "sh",
        F.sum("__gsize").over(Window.partitionBy("sh")).alias("df_"),
    )
    if max_doc_freq_frac is not None:
        n_docs = df.count()  # one cheap metadata-only action
        cap = int(n_docs * max_doc_freq_frac)
        sh = sh.filter(F.col("df_") <= cap)

    # PPJoin prefix filter (lossless): two docs with jaccard >= t must share
    # a shingle within each doc's first |d| - ceil(t*|d|) + 1 shingles when
    # shingles are globally ordered rarest-first.  Joining only on prefix
    # shingles cuts the candidate set by orders of magnitude vs. the naive
    # shingle self-join, with identical output (the oracle runs the naive
    # form).
    #
    # The rarity ranking is ONE aggregation into per-doc sorted arrays:
    # array_sort of (df_, sh) structs is exactly the row_number order the
    # former window pair (rank + count over id) produced, but the window
    # sort ran once per consumer (prefix side, doc sets) while the
    # persisted doc_arr is computed once and every consumer derives by
    # per-row array ops alone (guide §2.4 — remove shuffles outright).
    doc_arr = (
        sh.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df_", "sh"))).alias("arr"))
        .withColumn("sz", F.size("arr"))
        .persist()
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).cast("int")
    prefix = doc_arr.select(
        "id",
        F.posexplode(F.slice("arr", F.lit(1), prefix_len)).alias("p0", "x"),
        "sz",
    ).select("id", F.col("x.sh").alias("sh"), "sz", (F.col("p0") + 1).alias("pos"))

    a = prefix.alias("a")
    b = prefix.alias("b")
    # positional filter (PPJoin): a shared prefix shingle at ranks
    # (pos_a, pos_b) bounds the overlap by 1 + min(remaining on each side);
    # jaccard >= t needs overlap*(1+t) >= t*(|a|+|b|).  Lossless: the pair's
    # FIRST shared shingle always carries a valid bound, so any-row-passes
    # keeps every true pair while discarding most spurious candidates
    # before they reach the (array-shuffling) verification join.
    possible_inter = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: |a| >= t*|b| is necessary for jaccard >= t
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
            & (
                possible_inter * F.lit(1.0 + threshold)
                >= F.lit(threshold) * (F.col("a.sz") + F.col("b.sz"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # doc sets derive from the cached doc_arr by per-row projection — no
    # second shuffle of the shingle relation, no window re-sort
    doc_sets = doc_arr.select(
        "id",
        F.array_sort(F.transform("arr", lambda x: x["sh"])).alias("set_"),
        "sz",
    )
    pairs = (
        cand.join(
            doc_sets.select(
                F.col("id").alias("id_a"),
                F.col("set_").alias("set_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            doc_sets.select(
                F.col("id").alias("id_b"),
                F.col("set_").alias("set_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

    # ---- expand canonical pairs back to all duplicate members ------------
    # identical texts are jaccard 1.0 with each other, but only when the
    # capped shingle set is non-empty (the naive form's 0/0 yields null and
    # drops the pair): every eligible dup group contributes a SELF-pair
    # (c, c, 1.0), and one member-expansion pass then produces both the
    # cross-group and the within-group output pairs.
    self_pairs = (
        doc_sets.select("id")
        .join(
            canon_full.filter(F.col("__gsize") > 1).select(
                F.col("__canon").alias("id")
            ),
            "id",
        )
        .select(
            F.col("id").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    mem_a = membership.select(F.col("__canon").alias("id_a"), F.col("id").alias("m_a"))
    mem_b = membership.select(F.col("__canon").alias("id_b"), F.col("id").alias("m_b"))
    result = (
        pairs.unionByName(self_pairs)
        .join(mem_a, "id_a")
        .join(mem_b, "id_b")
        # a self-pair expands its group's members both ways round; keep one
        .filter((F.col("id_a") != F.col("id_b")) | (F.col("m_a") < F.col("m_b")))
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )
    return cut_and_release(result, [canon_full, membership, doc_arr])


def ngram_jaccard_oracle_sql(
    table: str, threshold: float, n: int, max_doc_freq_frac: float | None = 0.2
) -> str:
    """DuckDB twin of dedup_ngram_jaccard (same hashing, same math, same
    doc-frequency cap)."""
    freq_filter = (
        f"""
    , freq AS (SELECT sh FROM shingles GROUP BY sh
               HAVING count(*) <= (SELECT CAST(floor(count(*) * {max_doc_freq_frac}) AS BIGINT) FROM {table}))
    , sh2 AS (SELECT s.* FROM shingles s JOIN freq USING (sh))
    """
        if max_doc_freq_frac is not None
        else ", sh2 AS (SELECT * FROM shingles)"
    )
    return f"""
    WITH shingles AS (
      {shingle_cte_sql(table, n)}
    )
    {freq_filter}
    , sizes AS (SELECT id, count(*) AS sz FROM sh2 GROUP BY id)
    , inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= {threshold}
    """


# ------------------------------------------------------------- MinHash + LSH


def minhash_signatures(
    df: DataFrame,
    k: int = 16,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, mh_0..mh_{k-1}): k minhashes over char n-gram shingles."""
    sh = shingle_df(df, text_col, id_col, n)
    x = F.col("sh") % MERSENNE_31
    aggs = []
    for i, (a, b) in enumerate(minhash_coefficients(k)):
        aggs.append(F.min((x * a + b) % MERSENNE_31).alias(f"mh_{i}"))
    return sh.groupBy("id").agg(*aggs)


def band_signatures(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH banding of a :func:`minhash_signatures` table: one (id, band,
    sig) row per band, where ``sig`` is the band's minhashes joined into a
    short string key.  The single place the band encoding lives — both the
    full self-join dedup and the incremental batch-vs-corpus variant build
    their bucket keys here."""
    r = k // bands
    rows = []
    for b_idx in range(bands):
        members = [F.col(f"mh_{b_idx * r + j}") for j in range(r)]
        rows.append(
            F.struct(
                F.lit(b_idx).alias("band"),
                F.concat_ws("_", *[m.cast("string") for m in members]).alias("sig"),
            )
        )
    return sig.select(F.col("id"), F.explode(F.array(*rows)).alias("bs")).select(
        "id", "bs.band", "bs.sig"
    )


def dedup_minhash_lsh(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs by LSH banding, scored by minhash-estimated Jaccard.

    b bands of r=k/b rows; docs sharing any full band collide.  Estimated
    similarity = (#equal minhashes)/k over candidates only.  At 100 TB the
    band join shuffles (band_idx, band_signature) — a short key — and never
    materializes all pairs.  The pair list is materialized and the
    signature cache released before returning.
    """
    pairs, sig = minhash_lsh_plan(df, k, bands, threshold, n, text_col, id_col)
    return cut_and_release(pairs, [sig])


def minhash_lsh_plan(
    df: DataFrame,
    k: int,
    bands: int,
    threshold: float,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """:func:`dedup_minhash_lsh` without the cut: returns (pairs, sig),
    ``pairs`` still lazy and ``sig`` the persisted signature table the
    caller releases once ``pairs`` has been materialized."""
    assert k % bands == 0
    # persisted: the signature table feeds the band explode AND the two
    # scoring joins below; without it the whole shingle+minhash pipeline
    # would run three times.  k doubles per doc (k*8 B) — tiny relative to
    # the corpus.
    sig = minhash_signatures(df, k=k, n=n, text_col=text_col, id_col=id_col).persist()
    # the band self-join shuffles ONLY (id, band, sig) — the k mh_i columns
    # are joined back onto the (much smaller) candidate list afterwards, so
    # shuffle width stays O(1) in k instead of carrying k*8 B per banded row
    banded = band_signatures(sig, k, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(k)]
    )
    sig_b = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(k)]
    )
    est = sum(
        (F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}")).cast("int") for i in range(k)
    ) / F.lit(float(k))
    result = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    )
    return result, sig


def shingle_cte_sql(table: str, n: int) -> str:
    """DuckDB twin of shingle_df's (id, sh) rows (word n-grams).
    generate_series cannot take a per-row length, so the index list is
    bounded by the global max token count and filtered per row."""
    gram = ", ".join(f"toks[CAST(i AS INT) + {j}]" for j in range(n))
    return f"""
      SELECT id, {md5_60_sql("sh_str")} AS sh
      FROM (
        SELECT DISTINCT id, concat_ws(' ', {gram}) AS sh_str
        FROM (
          SELECT doc_id AS id,
                 list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
          FROM {table}
        )
        CROSS JOIN (
          SELECT unnest(range(1, (
            SELECT CAST(max(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != ''))) AS BIGINT) + 1
            FROM {table}))) AS i
        ) idx
        WHERE i <= greatest(len(toks) - {n - 1}, 1)
      )
    """


def minhash_pair_ctes(
    table: str, k: int, bands: int, threshold: float, n: int
) -> str:
    """CTE chain (shingles → sigs → banded → cand → mh_pairs) producing
    dedup_minhash_lsh's pair list over ``table`` — composable into larger
    oracle queries (the pipeline oracle reuses it on a filtered corpus)."""
    r = k // bands
    coeffs = minhash_coefficients(k)
    mh_exprs = ",\n        ".join(
        f"min(((sh % {MERSENNE_31}) * {a} + {b}) % {MERSENNE_31}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"SELECT id, {b_idx} AS band, "
        + " || '_' || ".join(
            f"CAST(mh_{b_idx * r + j} AS VARCHAR)" for j in range(r)
        )
        + " AS sig, "
        + ", ".join(f"mh_{i}" for i in range(k))
        + " FROM sigs"
        for b_idx in range(bands)
    )
    eq_sum = " + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(k))
    return f"""shingles AS (
      {shingle_cte_sql(table, n)}
    ),
    sigs AS (
      SELECT id,
        {mh_exprs}
      FROM shingles GROUP BY id
    ),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             ({eq_sum}) / {float(k)} AS est_jaccard
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    ),
    mh_pairs AS (
      SELECT id_a, id_b, round(est_jaccard, 4) AS est_jaccard
      FROM cand WHERE est_jaccard >= {threshold}
    )"""


def minhash_lsh_oracle_sql(
    table: str, k: int, bands: int, threshold: float, n: int
) -> str:
    """DuckDB twin of dedup_minhash_lsh: same shingles, same LCG constants,
    same banding."""
    return f"""
    WITH {minhash_pair_ctes(table, k, bands, threshold, n)}
    SELECT id_a, id_b, est_jaccard FROM mh_pairs
    """


# ------------------------------------------------------------------- SimHash

SIMHASH_BITS = 48


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash over whitespace tokens: bit j is the sign of the sum
    of (+1/-1) votes from each distinct token's hash bit j."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""))
        ).alias("tok"),
    ).select("id", md5_60(F.col("tok")).alias("h"))
    # the 48 vote sums and the 48-term signature build as F.expr SQL text
    # (r13, guide §5): the Column-object form cost ~1000 py4j round trips
    # — 1.5-2.0 s of DRIVER time per construction, 4x the job itself
    # (same fix as _dot_lit_sql's note in similarity.py); the parsed
    # trees are identical, so plans and values are unchanged
    bit_votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v_{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = toks.groupBy("id").agg(*bit_votes)
    sig = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        f" * CAST({1 << j} AS BIGINT))"
        for j in range(SIMHASH_BITS)
    )
    return votes.select(
        F.col("id").alias("doc_id"), F.expr(sig).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, candidate-generated by
    banding the signature into 4 x 12-bit blocks (a pair within hamming<=3
    of 4 blocks shares at least one block exactly; wider distances may be
    missed — standard SimHash blocking tradeoff, documented)."""
    sig = simhash(df, text_col=text_col, id_col=id_col)
    block_w = SIMHASH_BITS // 4
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col("simhash"), i * block_w)
                    .bitwiseAND(F.lit((1 << block_w) - 1))
                    .alias("val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_components(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``cluster_pairs(simhash_pairs(df))`` computed by SIGNATURE
    CONTRACTION — identical output, a fraction of the shuffled bytes
    (r13 optimization round, guide §2.2/§2.4).

    The doc-level pair list is quadratic inside every hot SimHash block
    (C(n,2) candidates per block value), but both the pair predicate
    (block match + hamming <= h are functions of the two SIGNATURES
    alone) and the target output (doc -> min doc id of its component)
    factor through the signature: docs sharing a signature are mutually
    near-dup (hamming 0) and always land in one component.  So the
    candidate join, the distinct, and the connected-components loop all
    run on the DISTINCT-signature graph, and doc-level pairs are never
    materialized.  Exact-duplicate documents are the norm in web-scale
    corpora, so the contraction factor grows with corpus size — at the
    local fixture it already cuts the candidate join 4.98M -> 0.88M rows
    and the CC edge list 6.17M -> 1.03M.

    Equivalence (oracle-checked, ``cluster_oracle_sql`` unchanged):
    * doc x appears in some pair  <=>  its signature group has >= 2
      members (hamming 0 pairs with its twin) OR its signature has a
      block-matching hamming<=h edge to another signature with >= 1 doc;
    * doc components are signature components expanded (cross-sig pairs
      connect ALL docs of both groups; same-sig groups are cliques);
    * the min doc id of a component is the min over its signatures'
      per-signature min doc ids.

    Returns (doc_id, canonical_id), exactly ``cluster_pairs``'s shape.
    """
    # one eager cut: the tokenize+48-bit-vote pipeline computes once and
    # feeds the signature aggregation AND the final doc-level join
    sig = cut(simhash(df, text_col=text_col, id_col=id_col))
    usig = sig.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("min_id")
    )
    block_w = SIMHASH_BITS // 4
    blocks = usig.select(
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col("simhash"), i * block_w)
                    .bitwiseAND(F.lit((1 << block_w) - 1))
                    .alias("val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("simhash", "b.blk", "b.val")
    a, b = blocks.alias("a"), blocks.alias("b")
    # hamming filter BEFORE the distinct (it is a function of the pair,
    # so filter/distinct commute) — the distinct shuffles fewer rows
    sedges = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= max_hamming)
        .distinct()
    )
    # CC over the signature graph; (sig -> canonical SIGNATURE) labels
    slab = cluster_pairs(sedges, id_a="sa", id_b="sb").select(
        F.col("doc_id").alias("simhash"), F.col("canonical_id").alias("comp")
    )
    # signatures with >= 2 docs but no cross-sig edge are their own
    # component (the within-group hamming-0 clique)
    singleton = (
        usig.filter(F.col("cnt") >= 2)
        .select("simhash")
        .join(slab.select("simhash"), "simhash", "left_anti")
        .select("simhash", F.col("simhash").alias("comp"))
    )
    member = slab.unionByName(singleton)
    canon = (
        member.join(usig.select("simhash", "min_id"), "simhash")
        .groupBy("comp")
        .agg(F.min("min_id").alias("canonical_id"))
    )
    return (
        sig.join(member, "simhash")
        .join(canon, "comp")
        .select("doc_id", "canonical_id")
    )


def cluster_pairs(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every member
    labeled with the smallest id in its component (the canonical doc).

    Each round does (a) neighbor-min adoption — every node takes the
    smallest label among itself and its neighbors — and (b) pointer
    jumping — ``label(x) <- label(label(x))`` — so the effective radius
    roughly doubles per round and a component of diameter d converges in
    O(log d) shuffles, not O(d).  Intermediate label tables are
    checkpointed: iterative plans otherwise grow lineage (and codegen)
    exponentially.

    Fused round: adoption's own-label term rides the edge relation as a
    self-loop row per node (the label_propagation trick), so one
    edge-scan aggregation yields min(self, neighbors) with no merge
    join.  The pointer jump reads the previous round's checkpointed
    label table rather than the adoption subtree, so a round scans the
    edges once.  A stale parent is still monotone — every label is a
    node id in the same component and labels only decrease — so the loop
    converges to the same fixpoint (node -> component min id), at worst
    one round later (radius 2r+1 per round instead of 2r+2).  At sf0.1
    that is 6 rounds of 1 join + 1 edge scan, 1.6-2.1 s.

    Every cut goes through ``session.cut``: executor-local checkpoints by
    default, reliable ``checkpoint()`` files under
    ``spark.adtl.reliableCheckpoint`` (so each iteration's labels survive
    executor loss once the context has a durable checkpoint dir).

    Returns (doc_id, canonical_id) for every node appearing in ``pairs``.
    """
    # checkpointed: every iteration joins against edges — without cutting
    # lineage here each round would re-execute the whole upstream
    # pair-generation pipeline.  The pair list normalizes to (lo, hi)
    # BEFORE the distinct (r13, guide §2.2 — shuffle fewer bytes): the
    # old form mirrored first and deduplicated the doubled relation, so
    # the distinct shuffled and the checkpoint materialized 2x the rows;
    # mirroring on top of the checkpoint is a narrow map.  Ids are
    # assumed non-null (every caller passes key columns).
    half = cut(
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
        ).distinct()
    )
    labels = cut(
        half.select(F.explode(F.array("lo", "hi")).alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # node count gates the per-round broadcasts (graph._gated_broadcast):
    # every relation in the loop except `edges` is node-sized, but they
    # all sit under per-round aggregation/checkpoint chains where AQE has
    # no stage boundary to measure, so the planned join re-shuffled (and
    # re-sorted) the EDGE relation every round.  Cheap count on the
    # already-materialized checkpoint blocks.
    n_nodes = labels.count()
    # the static per-round probe relation: both edge directions plus one
    # self-loop per node (self-pairs lo == hi are subsumed by the
    # self-loops).  Materialized once — the round plan then opens with a
    # bare block scan instead of re-deriving the 3-branch union per scan
    # (measured: the derived form gave back half the round win), and the
    # repartition balances the blocks for the per-round aggregation.
    nonself = half.filter(F.col("lo") != F.col("hi"))
    edges = cut(
        nonself.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionByName(
            nonself.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )
        .unionByName(
            labels.select(
                F.col("node").alias("src"), F.col("node").alias("dst")
            )
        )
        .repartition(F.col("src"))
    )
    prev_sum = None
    for _ in range(max_iterations):
        # adoption: min(own, neighbor labels) in ONE join+agg — the
        # self-loop row contributes the node's own previous label
        m = (
            edges.join(
                _gated_broadcast(labels, n_nodes), edges.dst == labels.node
            )
            .groupBy("src")
            .agg(F.min("label").alias("ml"))
        )
        # pointer jump through the PREVIOUS (checkpointed) label table:
        # ml is always a node id (labels are propagated node ids), so the
        # join is inner, and p_label <= ml by monotonicity — the least()
        # is belt-and-braces, not semantics
        parent = labels.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        # labels only ever decrease, so an unchanged sum(label) means a
        # fixpoint; observe() rides the checkpoint's materialization job —
        # convergence detection costs zero extra Spark jobs
        from pyspark.sql import Observation

        obs = Observation()
        labels = cut(
            m.join(
                _gated_broadcast(parent, n_nodes), m.ml == parent.p_node
            )
            .select(
                F.col("src").alias("node"),
                F.least(F.col("ml"), F.col("p_label")).alias("label"),
            )
            .observe(obs, F.sum("label").alias("s"))
        )
        cur = obs.get["s"]
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    )


def cluster_oracle_sql(table: str, max_hamming: int = 8) -> str:
    """DuckDB twin of ``cluster_pairs(simhash_pairs(df))``: the SimHash
    banding join produces the same pair list, and a recursive CTE computes
    the transitive closure whose per-node minimum is exactly the pointer-
    jumping result — an iterative Spark algorithm still value-checked."""
    votes = ",\n        ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END * {1 << j})"
        for j in range(SIMHASH_BITS)
    )
    block_w = SIMHASH_BITS // 4
    return f"""
    WITH RECURSIVE toks AS (
      SELECT DISTINCT doc_id AS id, tok
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM {table})
      WHERE tok != ''
    ),
    hashed AS (SELECT id, {md5_60_sql("tok")} AS h FROM toks),
    votes AS (SELECT id, {votes} FROM hashed GROUP BY id),
    sigs AS (SELECT id AS doc_id, ({sig}) AS simhash FROM votes),
    blocks AS (
      SELECT doc_id, simhash, blk,
             (simhash >> (blk * {block_w})) & {(1 << block_w) - 1} AS val
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS blk) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS canonical_id
    FROM reach GROUP BY src
    """


def simhash_oracle_sql(table: str) -> str:
    """DuckDB twin of ``simhash`` (signatures only — the pair query's twin
    composes this with the same banding)."""
    votes = ",\n        ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END * {1 << j})"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id, tok
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM {table})
      WHERE tok != ''
    ),
    hashed AS (SELECT id, {md5_60_sql("tok")} AS h FROM toks),
    votes AS (SELECT id, {votes} FROM hashed GROUP BY id)
    SELECT id AS doc_id, ({sig}) AS simhash FROM votes
    """


def dedup_minhash_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs between a NEW document batch and an EXISTING
    corpus — the incremental-ingestion shape: corpus-vs-corpus pairs are
    never recomputed, and the new batch (typically orders of magnitude
    smaller than the corpus) BROADCASTS so the corpus-side signature
    relation is read map-side, never shuffled.

    ``corpus_sig`` accepts a precomputed :func:`minhash_signatures` table
    (the persisted index a production pipeline maintains — write it out
    with ``sources.io.write_bucketed`` keyed on id for shuffle-free
    refresh joins); when omitted the signatures are computed inline.
    Output: (new_id, corpus_id, est_jaccard) with the same estimator and
    threshold semantics as :func:`dedup_minhash_lsh`.
    """
    assert k % bands == 0
    sig_new = minhash_signatures(
        new_docs, k=k, n=n, text_col=text_col, id_col=id_col
    ).persist()
    # never persist/unpersist a CALLER-provided index: evicting the cache a
    # production pipeline maintains behind its back would force the full
    # corpus signature recompute on the next batch — the exact cost the
    # index exists to avoid.  Only inline-computed signatures are cached
    # here and released below.
    if corpus_sig is not None:
        sig_old, ours = corpus_sig, []
    else:
        sig_old = minhash_signatures(
            corpus, k=k, n=n, text_col=text_col, id_col=id_col
        ).persist()
        ours = [sig_old]
    old_b = band_signatures(sig_old, k, bands).alias("o")
    new_b = band_signatures(sig_new, k, bands).alias("nw")
    cand = (
        old_b.join(
            F.broadcast(new_b),
            (F.col("o.band") == F.col("nw.band"))
            & (F.col("o.sig") == F.col("nw.sig")),
        )
        .select(
            F.col("nw.id").alias("new_id"), F.col("o.id").alias("corpus_id")
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sa = sig_new.select(
        F.col("id").alias("new_id"),
        *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(k)],
    )
    sb = sig_old.select(
        F.col("id").alias("corpus_id"),
        *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(k)],
    )
    est = sum(
        (F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}")).cast("int") for i in range(k)
    ) / F.lit(float(k))
    # cand is the deduped (new_id, corpus_id) candidate list — small by
    # construction — so the scoring probe into the corpus-side signature
    # relation sb is broadcast explicitly rather than relying on AQE to
    # notice; sb (corpus-sized) never shuffles.
    result = (
        F.broadcast(cand.join(F.broadcast(sa), "new_id"))
        .join(sb, "corpus_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("est_jaccard", 4).alias("est_jaccard"))
    )
    return cut_and_release(result, [sig_new, *ours])


def minhash_incremental_oracle_sql(
    table: str,
    new_pred_fmt: str,
    k: int,
    bands: int,
    threshold: float,
    n: int,
) -> str:
    """DuckDB twin of :func:`dedup_minhash_incremental` where the batch
    split is expressed as a predicate template over ``table``:
    ``new_pred_fmt`` contains a ``{col}`` placeholder for the id column
    (e.g. ``"{col} % 4 = 0"``) and selects the new batch, its complement
    the corpus.  A template instead of textual substitution keeps
    predicates that mention other identifiers intact.  Signatures are
    partition-independent, so the cross pairs equal the full-corpus pair
    list filtered to mixed-side pairs."""
    pred_a = new_pred_fmt.format(col="id_a")
    pred_b = new_pred_fmt.format(col="id_b")
    return f"""
    WITH {minhash_pair_ctes(table, k, bands, threshold, n)}
    SELECT CASE WHEN ({pred_a}) THEN id_a ELSE id_b END AS new_id,
           CASE WHEN ({pred_a}) THEN id_b ELSE id_a END AS corpus_id,
           est_jaccard
    FROM mh_pairs
    WHERE ({pred_a}) != ({pred_b})
    """


def duplicated_spans(
    docs: DataFrame,
    n: int = 10,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact repeated-substring detection — the span-level dedup of Lee
    et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499), re-expressed relationally: every maximal
    token span whose length->=``n`` n-grams all occur in at least
    ``min_df`` distinct documents is reported as (doc_id, span_start,
    span_end) in token positions, ready for cut-and-splice removal.

    The reference method builds a suffix array; a suffix array is a
    sequential in-memory structure that does not shard.  The equivalent
    relational shape used here: (1) positional n-grams — a narrow
    explode; (2) the inverted-index aggregation counting distinct docs
    per n-gram hash (map-side combine, one (hash, id) shuffle); (3) a
    semi-join flagging positions whose n-gram repeats elsewhere (AQE
    broadcasts the repeated-hash side when it is small — on clean
    corpora it is); (4) per-doc gaps-and-islands windows merging
    overlapping flagged starts (pos gap <= n) into maximal spans.  Every
    stage is partition-parallel; nothing is ever resident per-executor
    beyond one doc partition's flagged positions.
    """
    from pyspark.sql import Window

    from adtl_spark.operators.text import _ngrams, tokens

    t = docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
    g = t.select(
        "id", F.posexplode(_ngrams(F.col("toks"), n)).alias("pos", "gram")
    ).select("id", "pos", md5_60(F.col("gram")).alias("sh"))
    rep = (
        g.groupBy("sh")
        .agg(F.countDistinct("id").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("sh")
    )
    flagged = g.join(rep, "sh").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    new_island = (
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0))
        .otherwise(F.lit(1))
    )
    isl = flagged.withColumn(
        "__g",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("id", "__g")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n - 1).cast("long").alias("span_end"),
        )
        .select(F.col("id").alias("doc_id"), "span_start", "span_end")
    )


def duplicated_spans_oracle_sql(
    table: str, n: int = 10, min_df: int = 2
) -> str:
    """DuckDB twin of :func:`duplicated_spans`: same tokenizer, same
    positional n-gram hashes, same distinct-doc threshold, same
    gaps-and-islands merge (a null lag starts a new island in both
    engines)."""
    gram = ", ".join(f"toks[CAST(i AS INT) + {j}]" for j in range(n))
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM {table}
    ),
    pg AS (
      SELECT id, i - 1 AS pos, {md5_60_sql("gram")} AS sh FROM (
        SELECT id, i, concat_ws(' ', {gram}) AS gram
        FROM toks
        CROSS JOIN (
          SELECT unnest(range(1, (
            SELECT CAST(max(len(toks)) AS BIGINT) + 1 FROM toks))) AS i
        ) idx
        WHERE i <= len(toks) - {n - 1}
      )
    ),
    rep AS (SELECT sh FROM pg GROUP BY sh HAVING count(DISTINCT id) >= {min_df}),
    fl AS (SELECT id, pos FROM pg JOIN rep USING (sh)),
    brk AS (
      SELECT id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) <= {n}
                  THEN 0 ELSE 1 END AS b
      FROM fl
    ),
    isl AS (
      SELECT id, pos,
             sum(b) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
      FROM brk
    )
    SELECT id AS doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {n} - 1 AS BIGINT) AS span_end
    FROM isl GROUP BY id, g
    """


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply :func:`duplicated_spans` decisions: cut the flagged token
    spans out of each document, returning (doc_id, text) with the
    surviving tokens re-joined by single spaces (the tokenizer contract's
    whitespace normalization — span positions are token indices, so the
    rebuilt text is token-exact even where the original spacing was not).

    Scale shape: the span lists aggregate to one small row per affected
    document and join back on the id (AQE broadcasts them when small);
    the cut itself is a NARROW higher-order-function expression — token
    positions are filtered against the span list per row, so document
    text never explodes into per-token rows and never shuffles."""
    sp = spans.groupBy(F.col(id_col).alias("__sid__")).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("__spans__")
    )
    from adtl_spark.operators.text import tokens

    t = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks__")
    ).join(sp, F.col(id_col) == F.col("__sid__"), "left")
    spans_arr = F.coalesce(
        F.col("__spans__"), F.array().cast("array<struct<s:long,e:long>>")
    )
    idx = F.sequence(F.lit(0), F.size("__toks__") - 1)
    kept = F.filter(
        idx,
        lambda i: ~F.exists(
            spans_arr, lambda r: (i >= r["s"]) & (i <= r["e"])
        ),
    )
    rebuilt = F.array_join(
        F.transform(kept, lambda i: F.element_at(F.col("__toks__"), i + 1)), " "
    )
    return t.select(F.col(id_col), rebuilt.alias(text_col))


def remove_spans_oracle_sql(table: str, n: int = 10, min_df: int = 2) -> str:
    """DuckDB twin of duplicated_spans + remove_spans composed: the span
    query as a CTE, then a per-token anti-join rebuild (the relational
    equivalent of the narrow HOF cut; string_agg ORDER BY pos restores
    token order).  Documents with every token covered — or zero tokens —
    come back as empty strings via the left join."""
    spans_q = duplicated_spans_oracle_sql(table, n, min_df)
    return f"""
    WITH spans AS ({spans_q}),
    dtoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM {table}
    ),
    tok_rows AS (
      SELECT doc_id, i - 1 AS pos, toks[CAST(i AS INT)] AS tok
      FROM dtoks
      CROSS JOIN (
        SELECT unnest(range(1, (
          SELECT CAST(max(len(toks)) AS BIGINT) + 1 FROM dtoks))) AS i
      ) idx
      WHERE i <= len(toks)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok_rows t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.span_start AND s.span_end
      )
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.text, '') AS text
    FROM {table} d LEFT JOIN rebuilt r USING (doc_id)
    """


def keep_best_representative(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a dedup clustering by keeping the HIGHEST-QUALITY member of
    each duplicate cluster (ties to the smallest id) instead of the
    arbitrary min-id canonical — the production dedup policy: when near
    duplicates differ (one is truncated, one is boilerplate-wrapped),
    keep the best copy, drop the rest.

    ``clusters`` is a (id, canonical_id) assignment as produced by
    :func:`cluster_pairs` — it contains only documents that belong to
    some duplicate pair, so it is SMALL relative to the corpus.
    ``score_col`` names a column on ``docs`` (an exact-integer quality,
    e.g. distinct-token count, keeps the selection engine-portable).

    Shape at scale: representative selection windows the cluster relation
    (partitioned by cluster id — parallel, and bounded by the duplicate
    population, not the corpus); the corpus itself is touched only by one
    left-anti join against the loser id set, the same 'filter 100 TB by
    an id list' shape as dedup_apply, broadcast-upgraded by AQE when the
    loser set is small."""
    from pyspark.sql import Window

    scored = docs.select(F.col(id_col), F.col(score_col))
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    reps = (
        clusters.join(scored, id_col)
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(id_col)
    )
    losers = clusters.select(id_col).join(reps, id_col, "left_anti")
    return docs.join(losers, id_col, "left_anti")


def keep_best_oracle_sql(table: str, max_hamming: int = 8) -> str:
    """DuckDB twin of keep_best_representative over the SimHash
    clustering, scoring by distinct-token count: the recursive-CTE
    closure (cluster_oracle_sql) feeds a per-cluster best-pick window and
    an anti-join."""
    return f"""
    WITH clusters AS ({cluster_oracle_sql(table, max_hamming)}),
    score AS (
      SELECT doc_id,
             len(list_distinct(
               list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
             )) AS score
      FROM {table}
    ),
    ranked AS (
      SELECT c.doc_id,
             row_number() OVER (
               PARTITION BY c.canonical_id ORDER BY s.score DESC, c.doc_id ASC
             ) AS rn
      FROM clusters c JOIN score s USING (doc_id)
    ),
    losers AS (
      SELECT doc_id FROM ranked WHERE rn > 1
    )
    SELECT d.doc_id, d.lang, d.source
    FROM {table} d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq_frac: float | None = 0.2,
) -> DataFrame:
    """All pairs with idf-weighted cosine similarity >= ``threshold`` over
    word-``n``-gram shingle vectors — the WEIGHTED counterpart of
    :func:`dedup_ngram_jaccard` (all-pairs similarity search a la Bayardo
    et al. 2007): rare shared shingles count for much more than common
    ones, so boilerplate overlap no longer masquerades as similarity.

    Exactness protocol (order-independent, engine-portable): per-shingle
    weight ``w = idf_q = floor(ln(N/df)*1e4+0.5)`` (distinct shingles per
    doc, so tf = 1); per-doc norm from the exact integer sum of ``w*w``;
    each doc's vector is then quantized to integer UNIT components
    ``u = floor(w*1e6/norm)`` so the pair dot product is a sum of exact
    integers — immune to float summation order, unlike a double dot
    product accumulated across shuffle partitions.  ``cos = dot/1e12``
    underestimates the true cosine by < 2e-6 — the quantization IS the
    operator's definition and the oracle replays it bit-for-bit.
    Magnitude bounds: w <= ~3e5 (ln(1e12) corpora), so the norm sum fits
    a BIGINT for any document under ~10^8 distinct shingles, and the dot
    (u <= 1e6, shared shingles <= doc size) under ~10^6 shared shingles.

    Scale shape, same as the Jaccard twin: exact duplicates collapse
    before the join (identical texts have identical shingle vectors, so
    one canonical doc stands in for the group; document frequencies are
    weighted by group multiplicity, and pairs expand back afterwards —
    byte-identical semantics at a fraction of the fan-out on
    duplicate-heavy corpora); the document-frequency cap then drops
    ubiquitous shingles (sum(df^2) join fan-out for near-zero
    discriminative weight — an idf near 0 confirms they carry nothing),
    keeping the inverted-index self-join sub-quadratic; everything else
    is per-doc aggs and one (id_a, id_b) partial-sum shuffle."""
    # ---- exact-duplicate collapse (semantics-preserving, see
    # dedup_ngram_jaccard for the full rationale) -------------------------
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        F.sha2(F.col(text_col), 256).alias("__th"),
    )
    canon_full = hashed.groupBy("__th").agg(
        F.min("id").alias("__canon"),
        F.any_value("__text").alias("__ctext"),
        F.count(F.lit(1)).alias("__gsize"),
    ).persist()
    membership = (
        hashed.select("id", "__th")
        .join(canon_full.select("__th", "__canon"), "__th")
        .persist()
    )
    canon = canon_full.select(
        F.col("__canon").alias("id"),
        F.col("__ctext").alias(text_col),
        F.col("__gsize"),
    )

    sh = shingle_df(canon, text_col, "id", n, carry=["__gsize"])
    n_docs = df.count()  # raw count — multiplicity-weighted df cap below
    # multiplicity-weighted df as a window over the SAME shingle relation
    # (r13, guide §2.2, same cure as dedup_ngram_jaccard): the groupBy +
    # join-back form executed the shingle pass twice
    from pyspark.sql import Window

    sh = sh.select(
        "id",
        "sh",
        F.sum("__gsize").over(Window.partitionBy("sh")).alias("df_"),
    )
    if max_doc_freq_frac is not None:
        sh = sh.filter(F.col("df_") <= int(n_docs * max_doc_freq_frac))
    w = F.floor(
        F.log(F.lit(float(n_docs)) / F.col("df_")) * 10000 + F.lit(0.5)
    ).cast("long")
    weighted = sh.select("id", "sh", w.alias("w"))
    # the per-doc norm rides a window over the SAME weighted relation
    # (r13, guide §2.2): the old groupBy + join-back gave `weighted` two
    # consumers, so the whole shingle+df pipeline executed twice (Spark
    # plans trees); the window is one shuffle by id and the values are
    # the identical exact integers
    s2 = F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("id"))
    # persisted: the pair self-join reads the unit relation twice and the
    # self-pair check a third time
    unit = (
        weighted.withColumn("__s2__", s2)
        .filter(F.col("__s2__") > 0)
        .select(
            "id",
            "sh",
            F.floor(
                (F.col("w") * 1000000) / F.sqrt(F.col("__s2__").cast("double"))
            )
            .cast("long")
            .alias("u"),
        )
        .persist()
    )
    t_int = int(round(threshold * 1_000_000_000_000))
    a, b = unit.alias("a"), unit.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.u") * F.col("b.u")).alias("__dot__"))
        .filter(F.col("__dot__") >= t_int)
    )
    # members of a dup group pair with the group's self-dot (sum u^2 —
    # slightly under 1e12 by the floor quantization, exactly as the naive
    # per-member form computes it)
    self_pairs = (
        unit.groupBy("id")
        .agg(F.sum(F.col("u") * F.col("u")).alias("__dot__"))
        .join(
            canon_full.filter(F.col("__gsize") > 1).select(
                F.col("__canon").alias("id")
            ),
            "id",
        )
        .filter(F.col("__dot__") >= t_int)
        .select(F.col("id").alias("id_a"), F.col("id").alias("id_b"), "__dot__")
    )
    mem_a = membership.select(F.col("__canon").alias("id_a"), F.col("id").alias("m_a"))
    mem_b = membership.select(F.col("__canon").alias("id_b"), F.col("id").alias("m_b"))
    result = (
        pairs.unionByName(self_pairs)
        .join(mem_a, "id_a")
        .join(mem_b, "id_b")
        .filter((F.col("id_a") != F.col("id_b")) | (F.col("m_a") < F.col("m_b")))
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            (F.col("__dot__").cast("double") / 1e12).alias("cosine"),
        )
    )
    return cut_and_release(result, [canon_full, membership, unit])


def tfidf_cosine_oracle_sql(
    table: str,
    threshold: float = 0.8,
    n: int = 3,
    max_doc_freq_frac: float = 0.2,
) -> str:
    """DuckDB twin of :func:`tfidf_cosine_pairs`: same shingles, same df
    cap, same quantized idf / unit components / integer dot."""
    t_int = int(round(threshold * 1_000_000_000_000))
    return f"""
    WITH sh AS ({shingle_cte_sql(table, n)}),
    nd AS (SELECT count(*) AS n_docs FROM {table}),
    freq AS (
      SELECT sh, count(*) AS df_ FROM sh GROUP BY 1
    ),
    capped AS (
      SELECT f.sh, f.df_, nd.n_docs FROM freq f CROSS JOIN nd
      WHERE f.df_ <= nd.n_docs * {max_doc_freq_frac}
    ),
    weighted AS (
      SELECT s.id, s.sh,
             CAST(floor(ln(CAST(c.n_docs AS DOUBLE) / c.df_) * 10000 + 0.5) AS BIGINT) AS w
      FROM sh s JOIN capped c USING (sh)
    ),
    norms AS (SELECT id, SUM(w * w) AS s2 FROM weighted GROUP BY 1),
    unit AS (
      SELECT w.id, w.sh,
             CAST(floor((w.w * 1000000) / sqrt(CAST(n.s2 AS DOUBLE))) AS BIGINT) AS u
      FROM weighted w JOIN norms n USING (id)
      WHERE n.s2 > 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(SUM(a.u * b.u) AS DOUBLE) / 1e12 AS cosine
    FROM unit a JOIN unit b ON a.sh = b.sh AND a.id < b.id
    GROUP BY 1, 2
    HAVING SUM(a.u * b.u) >= {t_int}
    """


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq_frac: float | None = 0.2,
) -> DataFrame:
    """Directed containment join: every (src, dst) pair with
    |shingles(src) AND shingles(dst)| >= threshold * |shingles(src)|,
    src != dst — the asymmetric cousin of :func:`dedup_ngram_jaccard`
    that catches INCLUSION (a document quoting, excerpting, or wholly
    embedding another) which symmetric Jaccard misses when sizes differ.

    Same sub-quadratic machinery as the Jaccard join, adapted to the
    one-sided predicate: ubiquitous shingles above the document-frequency
    cap are dropped (part of the operator's definition — the oracle
    applies the same cap), and only the SRC side is prefix-filtered:
    containment >= t forces a shared shingle within src's first
    |src| - ceil(t*|src|) + 1 rarest-first shingles, while dst must join
    with its full shingle set (no symmetric bound exists for it; the
    |dst| >= t*|src| size filter still prunes).  The verification
    intersection runs on sorted shingle arrays, and the threshold check
    compares integers (inter >= t * |src| with exact-int inter/|src| and
    an exact t literal) — no float drift.

    Exact duplicates are collapsed before shingling and directed pairs
    expanded back afterwards, exactly as in the Jaccard join: identical
    texts have identical shingle sets, so every member of a group shares
    its canonical doc's containment relations (within-group members are
    mutually contained at 1.0 whenever the capped set is non-empty —
    matching the naive form, whose empty-set pairs join nothing and drop
    out).  On clone-heavy corpora this is the difference between pairing
    canonical documents and pairing every copy: the 10x-clone stress
    corpus runs the join on the ORIGINAL pair space and only the
    (inherently ~100x larger) output expansion scales with the clones.

    Output: (src, dst, inter, n_src, containment_q4), containment
    quantized at 1e-4.
    """

    # ---- exact-duplicate collapse (semantics-preserving) -----------------
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        F.sha2(F.col(text_col), 256).alias("__th"),
    )
    canon_full = hashed.groupBy("__th").agg(
        F.min("id").alias("__canon"),
        F.any_value("__text").alias("__ctext"),
        F.count(F.lit(1)).alias("__gsize"),
    ).persist()
    membership = (
        hashed.select("id", "__th")
        .join(canon_full.select("__th", "__canon"), "__th")
        .persist()
    )
    canon = canon_full.select(
        F.col("__canon").alias("id"),
        F.col("__ctext").alias(text_col),
        F.col("__gsize"),
    )

    sh = shingle_df(canon, text_col, "id", n, carry=["__gsize"])
    # multiplicity-weighted df as a window (r13, guide §2.2 — same cure
    # as dedup_ngram_jaccard: the groupBy + join-back form executed the
    # shingle pass twice)
    from pyspark.sql import Window

    sh = sh.select(
        "id",
        "sh",
        F.sum("__gsize").over(Window.partitionBy("sh")).alias("df_"),
    )
    if max_doc_freq_frac is not None:
        n_docs = df.count()  # metadata-only action
        cap = int(n_docs * max_doc_freq_frac)
        sh = sh.filter(F.col("df_") <= cap)

    # Rarity ranking as ONE aggregation into per-doc sorted arrays (see
    # dedup_ngram_jaccard): the former row_number/count window pair ran
    # its per-partition sort once per consumer (src prefix, dst side,
    # doc sets); array_sort of (df_, sh) structs reproduces the identical
    # order and every consumer derives from the cached doc_arr with
    # per-row array ops alone.
    doc_arr = (
        sh.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df_", "sh"))).alias("arr"))
        .withColumn("sz", F.size("arr"))
        .persist()
    )
    # one-sided PPJoin prefix: overlap >= ceil(t*sz) means a shared
    # shingle appears among src's first sz - ceil(t*sz) + 1 rarest
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).cast("int")
    src_prefix = doc_arr.select(
        F.col("id").alias("src"),
        F.explode(F.slice("arr", F.lit(1), prefix_len)).alias("x"),
        F.col("sz").alias("sz_src"),
    ).select("src", F.col("x.sh").alias("src_sh"), "sz_src")
    dst_all = doc_arr.select(
        F.col("id").alias("dst"),
        F.explode("arr").alias("x"),
        F.col("sz").alias("sz_dst"),
    ).select("dst", F.col("x.sh").alias("dst_sh"), "sz_dst")

    cand = (
        src_prefix.join(
            dst_all,
            (F.col("src_sh") == F.col("dst_sh"))
            & (F.col("src") != F.col("dst"))
            # inter <= min(sz_src, sz_dst) and inter >= t*sz_src
            & (F.col("sz_dst") >= F.lit(threshold) * F.col("sz_src")),
        )
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )

    doc_sets = doc_arr.select(
        "id",
        F.array_sort(F.transform("arr", lambda x: x["sh"])).alias("set_"),
        "sz",
    )
    canon_pairs = (
        cand.join(
            doc_sets.select(
                F.col("id").alias("src"),
                F.col("set_").alias("set_src"),
                F.col("sz").alias("n_src"),
            ),
            "src",
        )
        .join(
            doc_sets.select(
                F.col("id").alias("dst"), F.col("set_").alias("set_dst")
            ),
            "dst",
        )
        .withColumn("inter", F.size(F.array_intersect("set_src", "set_dst")))
        .filter(F.col("inter") >= F.lit(threshold) * F.col("n_src"))
        .select("src", "dst", "inter", "n_src")
    )

    # ---- expand canonical pairs back to all duplicate members ------------
    # within-group members are mutually contained at 1.0 whenever the
    # capped shingle set is non-empty (inter = n_src = |set|); the member
    # expansion below then emits every ordered member pair, both the
    # within-group and the cross-group directions
    self_pairs = (
        doc_sets.select("id", F.col("sz"))
        .join(
            canon_full.filter(F.col("__gsize") > 1).select(
                F.col("__canon").alias("id")
            ),
            "id",
        )
        .select(
            F.col("id").alias("src"),
            F.col("id").alias("dst"),
            F.col("sz").alias("inter"),
            F.col("sz").alias("n_src"),
        )
    )
    mem_s = membership.select(
        F.col("__canon").alias("src"), F.col("id").alias("m_src")
    )
    mem_d = membership.select(
        F.col("__canon").alias("dst"), F.col("id").alias("m_dst")
    )
    result = (
        canon_pairs.unionByName(self_pairs)
        .join(mem_s, "src")
        .join(mem_d, "dst")
        .filter(F.col("m_src") != F.col("m_dst"))
        .select(
            F.col("m_src").alias("src"),
            F.col("m_dst").alias("dst"),
            F.col("inter").cast("long").alias("inter"),
            F.col("n_src").cast("long").alias("n_src"),
            (
                F.floor(
                    F.col("inter") / F.col("n_src") * 10000 + F.lit(0.5)
                ).cast("double")
                / 10000.0
            ).alias("containment_q4"),
        )
    )
    return cut_and_release(
        result, [canon_full, membership, doc_arr]
    )


def containment_pairs_oracle_sql(
    table: str,
    threshold: float = 0.5,
    n: int = 3,
    max_doc_freq_frac: float | None = 0.2,
) -> str:
    """DuckDB twin of containment_pairs: the naive capped shingle
    self-join (no prefix filter — the prefix is a lossless optimization,
    so naive and optimized outputs are identical)."""
    cap_cte = (
        f"""
      capped AS (
        SELECT sh FROM (SELECT sh, count(*) AS df_ FROM shingles GROUP BY sh)
        WHERE df_ <= (SELECT CAST(floor(count(*) * {max_doc_freq_frac}) AS BIGINT) FROM {table})
      ),
      kept AS (SELECT s.id, s.sh FROM shingles s JOIN capped USING (sh)),"""
        if max_doc_freq_frac is not None
        else """
      kept AS (SELECT id, sh FROM shingles),"""
    )
    return f"""
      WITH shingles AS (
        {shingle_cte_sql(table, n)}
      ),{cap_cte}
      sizes AS (SELECT id, count(*) AS sz FROM kept GROUP BY id),
      inters AS (
        SELECT a.id AS src, b.id AS dst, count(*) AS inter
        FROM kept a JOIN kept b ON a.sh = b.sh AND a.id != b.id
        GROUP BY 1, 2
      )
      SELECT src, dst,
             CAST(inter AS BIGINT) AS inter,
             CAST(s.sz AS BIGINT) AS n_src,
             floor(CAST(inter AS DOUBLE) / s.sz * 10000 + 0.5) / 10000.0
               AS containment_q4
      FROM inters JOIN sizes s ON s.id = src
      WHERE inter >= {threshold} * s.sz
    """
