"""Structured Streaming pipelines.

The reference engine is batch-only (full materialization,
src/adtl/parser.py:709-725).  Two streaming capabilities are added here:

1. **Streaming spec execution** — an adtl spec's row-local phase (oneToOne
   and oneToMany tables) is shuffle-free, so the same compiled plan
   runs unchanged on a streaming DataFrame: ``readStream`` ->
   ``Parser.parse_dataframe`` (the exact projection/explode the batch path
   builds) -> ``writeStream``.  groupBy tables need stateful semantics
   (lastNotNull over unbounded keys) and are rejected with
   ``plans.tables.StreamingUnsupportedError`` rather than silently wrong
   results.

2. **Windowed event aggregation** — watermarked tumbling-window counts over
   an event stream, the canonical late-data-tolerant rollup.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wet_ingest_stream(
    spark,
    src_dir: str,
    dest_path: str,
    checkpoint: str,
    extract_html: bool = False,
    trigger: dict | None = None,
):
    """Incremental WET-making: stream whole WARC archives as they land in
    ``src_dir`` (the CommonCrawl drop-folder shape), run the SAME
    record-parsing Columns the batch path uses — parse_warc_records is
    row-local (split/posexplode/regexp), so it streams unchanged — and
    append (doc_id, uri, text) parquet to ``dest_path``.  With
    ``extract_html`` the source records are ``response`` HTML pages and
    the text comes from html_to_text; otherwise ``conversion`` (WET)
    records pass through.  Ids are the batch path's stable (uri,
    rec_pos) hashes, so downstream dedup decisions are append-stable
    across micro-batches.  Returns the started query.  ``trigger``
    passes through to ``writeStream.trigger(**trigger)`` — default
    ``{"availableNow": True}`` (catch-up run that drains and stops);
    pass e.g. ``{"processingTime": "30 seconds"}`` to tail the drop
    folder continuously."""
    from adtl_spark.operators.dedup import md5_60
    from adtl_spark.operators.text import html_to_text
    from adtl_spark.sources.io import parse_warc_records

    # wholetext must be the reader-method keyword — .text() rebuilds its
    # options, silently dropping a prior .option() call (the same pitfall
    # sources.io.read_text_dir documents)
    files = spark.readStream.text(src_dir, wholetext=True)
    recs = parse_warc_records(files)
    if extract_html:
        docs = recs.filter(F.col("warc_type") == "response").select(
            md5_60(
                F.concat_ws(
                    "|",
                    F.coalesce(F.col("target_uri"), F.lit("")),
                    F.col("rec_pos").cast("string"),
                )
            ).alias("doc_id"),
            F.col("target_uri").alias("uri"),
            html_to_text(F.col("content")).alias("text"),
        )
    else:
        from adtl_spark.sources.io import wet_documents

        docs = wet_documents(files)
    return (
        docs.writeStream.format("parquet")
        .option("path", dest_path)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts: late rows within the watermark
    still update their window; older ones are dropped (bounded state)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows with a gap timeout — Spark's native session_window
    keeps per-key state bounded by the watermark (the streaming twin of the
    batch w1_sessionize query)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("s"), F.col(user_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def drift_monitor_sink(ref: DataFrame, bucket, n_buckets: int, log_path: str):
    """foreachBatch sink that scores every micro-batch's distribution
    against a STATIC reference snapshot and appends one summary row
    (batch_id, n_ref, n_cur, psi_q6_total) to a parquet drift log — the
    streaming deployment of operators/monitor.psi_drift (identical math
    and quantization: the logged total equals the batch twin's
    sum(psi_q6), so alert thresholds calibrate once and hold in both
    modes).

    Scale shape per micro-batch: one narrow projection + one
    <= n_buckets-row aggregation over the batch, the reference histogram
    broadcast-sized — drift scoring adds no corpus-grain shuffle to the
    stream."""
    from adtl_spark.operators.monitor import psi_drift

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        report = psi_drift(ref, batch_df, bucket, n_buckets)
        (
            report.agg(
                F.max(F.lit(int(batch_id))).alias("batch_id"),
                F.sum("n_ref").cast("long").alias("n_ref"),
                F.sum("n_cur").cast("long").alias("n_cur"),
                F.sum("psi_q6").cast("long").alias("psi_q6_total"),
            )
            .write.mode("append")
            .parquet(log_path)
        )

    return sink


def ks_drift_monitor_sink(ref: DataFrame, value, log_path: str):
    """KS twin of :func:`drift_monitor_sink`: scores every micro-batch
    against the static reference with the two-sample Kolmogorov-Smirnov
    statistic (operators/monitor.ks_drift — identical math, so the
    logged D equals the batch twin's and thresholds transfer).  One row
    (batch_id, n_ref, n_cur, d_q6, d_at) appends to the parquet log per
    batch; PSI flags share shifts inside fixed buckets, KS flags WHERE
    along the axis the mass moved — production monitors run both."""
    from adtl_spark.operators.monitor import ks_drift

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        report = ks_drift(ref, batch_df, value)
        (
            report.select(
                F.lit(int(batch_id)).alias("batch_id"),
                "n_ref",
                "n_cur",
                "d_q6",
                "d_at",
            )
            .write.mode("append")
            .parquet(log_path)
        )

    return sink


def centroid_drift_monitor_sink(
    ref: DataFrame,
    log_path: str,
    vec_col: str = "embedding",
    label_col: str | None = None,
):
    """Embedding-drift twin of :func:`drift_monitor_sink`: scores every
    micro-batch of vectors against a static reference snapshot with
    operators/monitor.centroid_drift (identical math and quantization,
    so alert thresholds calibrate once on the batch twin).  Appends one
    row per shared label (batch_id, label, n_ref, n_cur, cos_q6,
    shift_q6, ratio_q6) to the parquet drift log per batch — the
    monitor that catches an upstream embedding-model swap while the
    stream is running, not at the next offline audit."""
    from adtl_spark.operators.monitor import centroid_drift

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        report = centroid_drift(
            ref, batch_df, vec_col=vec_col, label_col=label_col
        )
        (
            report.select(
                F.lit(int(batch_id)).alias("batch_id"),
                "label",
                "n_ref",
                "n_cur",
                "cos_q6",
                "shift_q6",
                "ratio_q6",
            )
            .write.mode("append")
            .parquet(log_path)
        )

    return sink


def ann_query_sink(
    index_path: str,
    log_path: str,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """ANN serving on a stream: every micro-batch of query vectors runs
    against the PERSISTED IVF-PQ index (similarity.ann_ivfpq_query_index
    — probed cells prune at the scan) and the top-k results append to a
    parquet log keyed by batch_id.  This is the serving loop an online
    retrieval pipeline runs: the index is built/maintained offline
    (write_ivfpq_index / append_to_ivfpq_index), queries arrive
    continuously, and each batch touches only its probed cells' code
    partitions — never the corpus."""
    from adtl_spark.operators.similarity import ann_ivfpq_query_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        out = ann_ivfpq_query_index(
            batch_df.sparkSession, index_path, batch_df,
            n_probe=n_probe, k=k, id_col=id_col, vec_col=vec_col,
        )
        (
            out.select(
                F.lit(int(batch_id)).alias("batch_id"),
                "query_id", "corpus_id", "rank", "qdist",
            )
            .write.mode("append")
            .parquet(log_path)
        )

    return sink


def bm25_query_sink(index_path: str, log_path: str, k: int = 5):
    """Lexical retrieval serving on a stream: every micro-batch of
    (query_id, query) text queries runs BM25 against the PERSISTED
    search index (retrieval.bm25_query_index — the query's token-hash
    buckets prune at the scan) and the top-k results append to a
    parquet log keyed by batch_id.  The lexical twin of
    :func:`ann_query_sink`: index built/maintained offline
    (write_search_index / append_to_search_index), queries arrive
    continuously, each batch's IO bounded by its own tokens."""
    from adtl_spark.operators.retrieval import bm25_query_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        out = bm25_query_index(
            batch_df.sparkSession, index_path, batch_df, k=k
        )
        (
            out.select(
                F.lit(int(batch_id)).alias("batch_id"),
                "query_id", "doc_id", "rank", "bm25",
            )
            .write.mode("append")
            .parquet(log_path)
        )

    return sink


def paragraph_freq_sink(store_path: str):
    """foreachBatch maintenance of the CCNet paragraph-frequency store —
    boilerplate removal for INCREMENTAL crawls: every micro-batch's
    (paragraph key, distinct-doc count) delta is written to its own
    ``{store}/delta/<batch_id>`` directory in overwrite mode, so a
    replayed batch (at-least-once foreachBatch) overwrites its own delta
    instead of double-counting — the maintenance is idempotent per
    batch, the same argument the structured-streaming docs make for
    idempotent foreachBatch sinks.  Batches must carry disjoint doc ids
    (the append-stable id contract every maintained store here shares);
    distinct counts from disjoint batches add exactly, so the summed
    store equals a from-scratch paragraph_freq over everything the
    stream has seen (tested across micro-batch boundaries)."""
    from adtl_spark.operators.dedup import paragraph_freq

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        paragraph_freq(batch_df).write.mode("overwrite").parquet(
            f"{store_path}/delta/{int(batch_id)}"
        )

    return sink


def paragraph_store_freq(spark, store_path: str) -> DataFrame:
    """The maintained paragraph-frequency relation (__key, __pdf):
    sum of all per-batch deltas.  Feed to dedup.paragraph_dedup_apply
    to boilerplate-strip any batch against the full crawl history."""
    return (
        spark.read.parquet(f"{store_path}/delta/*")
        .groupBy("__key")
        .agg(F.sum("__pdf").cast("long").alias("__pdf"))
    )


def frontier_sink(
    store_path: str,
    delays: DataFrame | None = None,
    url_col: str = "url",
    default_delay_ms: int = 1000,
    n_shards: int = 64,
    priority_col: str | None = None,
    banded_numbering: bool | str = False,
    n_bands: int | None = None,
):
    """foreachBatch maintenance of an INCREMENTAL crawl frontier — the
    streaming form of :func:`adtl_spark.operators.text.
    schedule_frontier`: a production crawl discovers URLs continuously,
    and without continuation each micro-batch's ``fetch_seq`` would
    restart at 1, re-spending every host's politeness budget from zero.

    Per micro-batch: the batch is scheduled with the full batch
    operator (host normalization, broadcast delay join, plain / priority
    / banded / auto numbering all apply unchanged), then each host's
    ``fetch_seq`` is shifted by the host's CONTINUATION OFFSET — the
    count of URLs earlier batches already queued on that host,
    maintained as per-batch ``(host, count, batch_id)`` deltas in
    ``{store}/delta/<batch_id>`` (overwrite mode: a replayed batch
    overwrites its own delta instead of double-counting — the
    idempotent-per-batch contract every maintained store here shares;
    offsets for batch N sum only deltas with ``batch_id < N``, so a
    replay also re-reads exactly the offsets it saw the first time).
    Periodic :func:`compact_frontier_store` folds old deltas into a
    watermarked base so the per-batch offset read stays one base + a
    bounded delta tail instead of every delta since the crawl began
    (O(B^2) over the stream's life otherwise).
    ``fetch_after_ms`` is re-derived from the shifted sequence and the
    host's resolved delay, and the scheduled batch lands in
    ``{store}/out/<batch_id>`` (the per-batch fetch plan a crawler
    consumes; delta counts are computed from the WRITTEN plan, one
    schedule execution per batch).  The offsets relation is
    hosts-sized, joined shuffle-hash build-side (a broadcast would be
    wrong at scale: #hosts can be millions).

    SEQUENTIAL-REPLAY EQUALITY (the ``stream_debounce_last_kept``
    standard): when each host's URLs arrive across batches in the
    order the one-batch twin would queue them (URL order, or priority
    order with ``priority_col``), the accumulated ``fetch_seq`` /
    ``fetch_after_ms`` across all ``out/`` batches equal the twin's on
    the same rows — pinned by tests for plain, priority AND banded
    modes.  Batches that interleave a host's queue out of that order
    still get correct CONTINUATION (no restart, no collisions), just a
    different tie-break than the hindsight twin, which no online
    scheduler can reproduce."""
    from adtl_spark.operators.text import schedule_frontier

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        sched = schedule_frontier(
            batch_df,
            delays,
            url_col=url_col,
            default_delay_ms=default_delay_ms,
            n_shards=n_shards,
            priority_col=priority_col,
            banded_numbering=banded_numbering,
            n_bands=n_bands,
            keep_delay=True,
        )
        offs = _frontier_offsets(spark, store_path, int(batch_id))
        if offs is not None:
            sched = (
                sched.join(offs.hint("shuffle_hash"), "host", "left")
                .withColumn("__off", F.coalesce(F.col("__off"), F.lit(0)))
                .withColumn(
                    "fetch_seq",
                    (F.col("fetch_seq") + F.col("__off")).cast("long"),
                )
                .withColumn(
                    "fetch_after_ms",
                    ((F.col("fetch_seq") - 1) * F.col("delay_ms")).cast(
                        "long"
                    ),
                )
                .drop("__off")
            )
        out_path = f"{store_path}/out/{int(batch_id)}"
        sched.drop("delay_ms").write.mode("overwrite").parquet(out_path)
        (
            spark.read.parquet(out_path)
            .groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("count"))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .parquet(f"{store_path}/delta/{int(batch_id)}")
        )

    return sink


def _frontier_base(spark, store_path: str):
    """Newest COMMITTED offsets base: ``{store}/base/<upto>/data``
    holds the per-host sums of all deltas with ``batch_id <= upto`` —
    the folded watermark lives in the directory NAME and commitment in
    a marker subdirectory written LAST (the search-index pattern:
    resolving the serving state costs one FS listing, and a compaction
    that died mid-write is invisible)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    bpath = jvm.org.apache.hadoop.fs.Path(f"{store_path}/base")
    fs = bpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(bpath):
        return None, -1
    best = -1
    for st in fs.listStatus(bpath):
        name = st.getPath().getName()
        if not name.isdigit():
            continue
        marker = fs.globStatus(
            jvm.org.apache.hadoop.fs.Path(
                f"{store_path}/base/{name}/commit/part-*"
            )
        )
        if marker is not None and len(marker) > 0:
            best = max(best, int(name))
    if best < 0:
        return None, -1
    return spark.read.parquet(f"{store_path}/base/{best}/data"), best


def _frontier_offsets(spark, store_path: str, batch_id: int):
    """Per-host continuation offsets for batch ``batch_id``: the newest
    compacted base (deltas <= its watermark, pre-summed) plus only the
    deltas BETWEEN the watermark and this batch.  Without compaction
    the sink would re-read every historical delta each batch — O(B^2)
    over a crawl's life; with periodic :func:`compact_frontier_store`
    the per-batch read is one base + a bounded tail of deltas."""
    base, upto = _frontier_base(spark, store_path)
    if batch_id <= upto:
        # a replayed batch must re-read EXACTLY the offsets it saw the
        # first time; a base folded past it would include the batch's
        # own delta (double count).  compact_frontier_store's contract
        # forbids folding batches the checkpoint might still replay.
        raise ValueError(
            f"frontier store compacted past batch {batch_id} (base "
            f"watermark {upto}): only fold batches the streaming "
            "checkpoint has committed past"
        )
    try:
        deltas = spark.read.parquet(f"{store_path}/delta/*").filter(
            (F.col("batch_id") > upto) & (F.col("batch_id") < batch_id)
        )
    except AnalysisException as e:
        # ONLY the no-deltas-yet case (first batch) may be treated as
        # empty; a corrupted or unreadable delta must FAIL the batch —
        # silently zeroing every host's continuation offset is exactly
        # the restart bug this sink exists to prevent
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            deltas = None
        else:
            raise
    parts = []
    if base is not None:
        parts.append(base.select("host", F.col("count").cast("long")))
    if deltas is not None:
        parts.append(deltas.select("host", F.col("count").cast("long")))
    if not parts:
        return None
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("host").agg(
        F.sum("count").cast("long").alias("__off")
    )


def compact_frontier_store(spark, store_path: str, upto_batch: int) -> None:
    """Fold all deltas with ``batch_id <= upto_batch`` (plus any older
    base) into ``{store}/base/<upto_batch>/data``, marker written LAST
    — bounding the sink's per-batch offset read to one base + the
    delta tail instead of every historical delta (O(B) per batch ->
    O(1) + tail; over a crawl's life the un-compacted shape is
    O(B^2)).  CONTRACT: ``upto_batch`` must be a batch id the
    streaming checkpoint has committed past — a replayed batch must
    never find its own delta pre-folded (the sink fail-fasts on that).
    Idempotent (overwrite); old bases/deltas stay on disk (readers
    pick the NEWEST committed base by its name watermark; reclamation
    is an operational sweep, same as the search index).  Single
    sequential writer, like the other maintained stores."""
    spark_path = f"{store_path}/base/{int(upto_batch)}"
    base, upto = _frontier_base(spark, store_path)
    deltas = spark.read.parquet(f"{store_path}/delta/*").filter(
        (F.col("batch_id") > upto) & (F.col("batch_id") <= int(upto_batch))
    )
    folded = deltas.select("host", F.col("count").cast("long"))
    if base is not None:
        folded = folded.unionByName(
            base.select("host", F.col("count").cast("long"))
        )
    (
        folded.groupBy("host")
        .agg(F.sum("count").cast("long").alias("count"))
        .write.mode("overwrite")
        .parquet(f"{spark_path}/data")
    )
    spark.createDataFrame(
        [(int(upto_batch),)], "upto long"
    ).write.mode("overwrite").parquet(f"{spark_path}/commit")


def frontier_store_plan(spark, store_path: str) -> DataFrame:
    """The accumulated fetch plan: every scheduled batch the sink has
    written, with stream-continued ``fetch_seq`` / ``fetch_after_ms``."""
    return spark.read.parquet(f"{store_path}/out/*")


def preference_sink(store_path: str, winner_col: str = "winner",
                    loser_col: str = "loser"):
    """foreachBatch maintenance of the pairwise-preference count store —
    Bradley-Terry fitting over a LIVE comparison log (the RLHF feedback
    loop: preferences arrive continuously, the model refits from
    sufficient statistics).  Each micro-batch's per-ordered-pair win
    counts land in ``{store}/delta/<batch_id>`` in overwrite mode, so a
    replayed batch overwrites its own delta instead of double-counting
    (the idempotent-per-batch contract every maintained store here
    shares).  Counts from any batch partitioning add exactly, so the
    summed store equals the counts of a from-scratch pass — and
    :func:`preference_store_fit` therefore refits EXACTLY the batch
    Bradley-Terry model (tested across micro-batch boundaries; no
    disjointness requirement, win counts are pure adds)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        (
            batch_df.select(
                F.col(winner_col).alias("i"), F.col(loser_col).alias("j")
            )
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("c"))
            .write.mode("overwrite")
            .parquet(f"{store_path}/delta/{int(batch_id)}")
        )

    return sink


def preference_store_fit(spark, store_path: str, iters: int = 2) -> DataFrame:
    """Refit Bradley-Terry from the maintained count store: the summed
    (winner, loser, count) deltas expand to a weighted comparison log
    only in COUNT form (the MM update needs nothing else), so refit
    cost is bounded by distinct pairs, not preferences seen."""
    from adtl_spark.operators.feedback import bradley_terry

    counts = (
        spark.read.parquet(f"{store_path}/delta/*")
        .groupBy("i", "j")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    # bradley_terry re-counts from a row-per-comparison log; expanding
    # counts back to rows would be corpus-sized, so feed the counted
    # form through the same math: explode is replaced by weighting.
    pairs = counts.select(
        F.col("i").alias("winner"), F.col("j").alias("loser"), "c"
    )
    return bradley_terry(pairs, weight_col="c", iters=iters)


def doremi_monitor_sink(
    model: DataFrame,
    log_path: str,
    domain_col: str = "source",
    eta: float = 1.0,
):
    """Online mixture monitoring: every micro-batch of documents gets
    one DoReMi weight update computed against a STATIC reference unigram
    model (corpus.train_unigram — the same broadcastable model every
    scorer uses), and the per-domain rows append to a parquet log keyed
    by batch_id.  Scoring under the fixed reference (not the batch
    itself) keeps batches comparable over time and makes each logged
    batch equal sampling.doremi_step(batch, model=reference) exactly
    (tested) — the mixture twin of the PSI/KS/centroid drift sinks."""
    from adtl_spark.operators.sampling import doremi_step

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        out = doremi_step(
            batch_df, domain_col=domain_col, eta=eta, model=model
        )
        (
            out.select(
                F.lit(int(batch_id)).alias("batch_id"),
                "domain", "n_tokens", "nll", "excess", "weight",
            )
            .write.mode("append")
            .parquet(log_path)
        )

    return sink
