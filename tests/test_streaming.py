"""Structured Streaming: spec execution on a stream + windowed/session
aggregations, driven end-to-end through the rate/memory machinery."""

import json
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from adtl_spark.api import Parser
from adtl_spark.plans.tables import StreamingUnsupportedError
from adtl_spark.streaming.pipeline import (
    sessionize_stream,
    windowed_event_counts,
)


def _run_stream_to_memory(df, name, timeout=60):
    q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _csv_source(spark, tmp_path, text, stream=True):
    """``text`` as the one CSV file of a folder, read as a stream or as a
    batch."""
    src = tmp_path / "stream_src"
    src.mkdir(exist_ok=True)
    (src / "part1.csv").write_text(text)
    reader = spark.readStream if stream else spark.read
    return reader.schema("sid string, sex string").option("header", True).csv(str(src))


def test_spec_streams_one_to_one(spark, tmp_path):
    spec = {
        "adtl": {
            "name": "s",
            "description": "",
            "tables": {"subject": {"kind": "oneToOne"}},
        },
        "subject": {
            "subject_id": {"field": "sid"},
            "sex": {"field": "sex", "values": {"1": "male", "2": "female"}},
        },
    }
    stream = _csv_source(spark, tmp_path, "sid,sex\nS1,1\nS2,2\n")
    tables = Parser(spec, spark=spark).parse_dataframe(stream).data
    assert set(tables) == {"subject"}
    _run_stream_to_memory(tables["subject"], "subj_stream")
    rows = {r["subject_id"]: r["sex"] for r in spark.sql("SELECT * FROM subj_stream").collect()}
    assert rows == {"S1": "male", "S2": "female"}


def test_spec_streaming_rejects_groupby(spark):
    spec = {
        "adtl": {
            "name": "s",
            "description": "",
            "tables": {
                "subject": {
                    "kind": "groupBy",
                    "groupBy": "sid",
                    "aggregation": "lastNotNull",
                }
            },
        },
        "subject": {"sid": {"field": "sid"}},
    }
    stream = spark.readStream.format("rate").load().selectExpr("CAST(value AS STRING) AS sid")
    with pytest.raises(StreamingUnsupportedError):
        Parser(spec, spark=spark).parse_dataframe(stream)


def test_spec_stream_omits_constants_and_rejects_groupby_among_tables(spark, tmp_path):
    """The batch and the streaming parse share one table dispatch: a stream
    leaves out the constant table the batch parse returns, streams the
    row-local tables with their validation, and a groupBy table anywhere
    in the spec raises the named error."""
    schema = tmp_path / "subject.json"
    schema.write_text(json.dumps({"properties": {"subject_id": {"pattern": "^S1$"}}}))
    spec = {
        "adtl": {
            "name": "s",
            "description": "",
            "tables": {
                "meta": {"kind": "constant"},
                "subject": {"kind": "oneToOne", "schema": str(schema)},
                "obs": {"kind": "oneToMany", "discriminator": "name"},
            },
        },
        "meta": {"source": "stream"},
        "subject": {"subject_id": {"field": "sid"}},
        "obs": [
            {"name": "sex", "if": {"sex": {"!=": ""}}, "value": {"field": "sex"}},
            {"name": "id", "if": {"sid": {"!=": ""}}, "value": {"field": "sid"}},
        ],
    }
    text = "sid,sex\nS1,1\nS2,\n"
    batch = Parser(spec, spark=spark).parse_dataframe(
        _csv_source(spark, tmp_path, text, stream=False)
    )
    assert set(batch.data) == {"meta", "subject", "obs"}

    stream = _csv_source(spark, tmp_path, text)
    tables = Parser(spec, spark=spark).parse_dataframe(stream).data
    assert set(tables) == {"subject", "obs"}
    assert all(df.isStreaming for df in tables.values())
    _run_stream_to_memory(tables["subject"], "subject_stream")
    valid = {
        r["subject_id"]: r["adtl_valid"]
        for r in spark.sql("SELECT * FROM subject_stream").collect()
    }
    assert valid == {"S1": True, "S2": False}
    _run_stream_to_memory(tables["obs"], "obs_stream")
    rows = sorted(
        (r["name"], r["value"]) for r in spark.sql("SELECT * FROM obs_stream").collect()
    )
    batch_rows = sorted((r["name"], r["value"]) for r in batch.data["obs"].collect())
    assert rows == batch_rows == [("id", "S1"), ("id", "S2"), ("sex", "1")]

    spec["adtl"]["tables"]["visit"] = {
        "kind": "groupBy", "groupBy": "sid", "aggregation": "lastNotNull"
    }
    spec["visit"] = {"sid": {"field": "sid"}, "sex": {"field": "sex"}}
    with pytest.raises(StreamingUnsupportedError, match="'visit'"):
        Parser(spec, spark=spark).parse_dataframe(stream)


def test_streaming_parse_has_no_report(spark, tmp_path):
    """A streaming parse is validated row by row but has no report: it
    says so, and ``build_report()`` raises the named error instead of
    running a batch action over the stream."""
    schema = tmp_path / "subject.json"
    schema.write_text(json.dumps({"properties": {"subject_id": {"pattern": "^S1$"}}}))
    spec = {
        "adtl": {
            "name": "s",
            "description": "",
            "tables": {"subject": {"kind": "oneToOne", "schema": str(schema)}},
        },
        "subject": {"subject_id": {"field": "sid"}},
    }
    parser = Parser(spec, spark=spark).parse_dataframe(
        _csv_source(spark, tmp_path, "sid,sex\nS1,1\n")
    )
    assert parser.report_available is False
    with pytest.raises(StreamingUnsupportedError, match="streaming parse"):
        parser.build_report()
    parser.show_report()  # prints nothing, raises nothing
    batch = Parser(spec, spark=spark).parse_dataframe(
        _csv_source(spark, tmp_path, "sid,sex\nS1,1\n", stream=False)
    )
    assert batch.report_available is True
    assert batch.build_report()["total_valid"] == {"subject": 1}


def _event_stream_df(spark, tmp_path):
    import json

    src = tmp_path / "events_src"
    src.mkdir()
    rows = []
    base = 1_700_000_000
    for uid in (1, 2):
        for i in range(5):
            rows.append({"ts": base + uid * 10000 + i * 60, "user_id": uid, "event_type": "click", "value": float(i)})
        # second session after a large gap
        rows.append({"ts": base + uid * 10000 + 10_000, "user_id": uid, "event_type": "view", "value": 9.0})
    (src / "p.json").write_text("\n".join(json.dumps(r) for r in rows))
    return (
        spark.readStream.schema("ts long, user_id long, event_type string, value double")
        .json(str(src))
        .withColumn("ts", F.timestamp_seconds("ts"))
    )


def test_windowed_event_counts_stream(spark, tmp_path):
    events = _event_stream_df(spark, tmp_path)
    agg = windowed_event_counts(events, window="5 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode emits only watermark-closed windows; at least the early
    # windows for each user close once the late event advances the watermark
    rows = spark.sql("SELECT * FROM win_counts").collect()
    assert len(rows) >= 2
    assert all(r["n_events"] >= 1 for r in rows)


def test_sessionize_stream(spark, tmp_path):
    events = _event_stream_df(spark, tmp_path)
    sess = sessionize_stream(events, gap="10 minutes", watermark="2 hours")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sessions").collect()
    # the 5-event burst forms one closed session per user
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert all(5 in counts for counts in per_user.values())


def test_stream_dedup_exact(spark, tmp_path):
    import json

    from adtl_spark.streaming.stateful import stream_dedup_exact

    src = tmp_path / "docs_src"
    src.mkdir()
    docs = [
        {"doc_id": 1, "text": "alpha beta"},
        {"doc_id": 2, "text": "alpha beta"},   # replay of 1's content
        {"doc_id": 3, "text": "gamma delta"},
        {"doc_id": 4, "text": "gamma delta"},  # replay
        {"doc_id": 5, "text": "unique text"},
    ]
    (src / "batch1.json").write_text("\n".join(json.dumps(d) for d in docs))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    deduped = stream_dedup_exact(stream, shards=4)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT doc_id FROM dedup_stream").collect()
    emitted = sorted(r["doc_id"] for r in rows)
    # one doc per distinct content, first occurrence wins
    assert len(emitted) == 3
    assert 5 in emitted
    assert not ({1, 2} <= set(emitted))
    assert not ({3, 4} <= set(emitted))


def test_text_operators_run_on_streams(spark, tmp_path):
    """The text-analysis operators are stateless projections, so the exact
    same operator code runs on a stream: quality scoring + language id over
    a streamed document source."""
    from adtl_spark.operators import text as X

    src = tmp_path / "docs_stream"
    src.mkdir()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs home"),
            (2, "el zorro marron salta sobre el perro perezoso y corre"),
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    scored = X.quality_score(stream)
    assert scored.isStreaming
    _run_stream_to_memory(scored, "stream_quality")
    got = {r["doc_id"]: r["n_tokens"] for r in spark.sql("SELECT * FROM stream_quality").collect()}
    assert got == {1: 12, 2: 10}

    lang = X.lang_id(stream)
    _run_stream_to_memory(lang, "stream_lang")
    preds = {r["doc_id"]: r["lang_pred"] for r in spark.sql("SELECT * FROM stream_lang").collect()}
    assert preds[1] == "en" and preds[2] == "es"


def test_sampling_operators_run_on_streams(spark, tmp_path):
    """Hash-keyed sampling/splitting/chunking are stateless narrow ops —
    the same operator code filters or labels a stream with no state store,
    and (being keyed on the row, not an RNG) a row's decision on the
    stream equals its decision in batch."""
    from adtl_spark.operators import sampling as SA
    from adtl_spark.operators import text as X

    src = tmp_path / "sample_stream"
    src.mkdir()
    batch = spark.range(0, 200).selectExpr(
        "id AS doc_id", "concat('tok ', repeat('word ', CAST(id % 5 AS INT))) AS text"
    )
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    sampled = SA.hash_sample(stream, 0.3)
    assert sampled.isStreaming
    _run_stream_to_memory(sampled.select("doc_id"), "stream_sample")
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM stream_sample").collect()}
    want = {r["doc_id"] for r in SA.hash_sample(batch, 0.3).select("doc_id").collect()}
    assert got == want  # stream decision == batch decision, row by row

    split = SA.train_test_split(stream, {"train": 0.8, "test": 0.2})
    _run_stream_to_memory(split.select("doc_id", "split"), "stream_split")
    s_got = dict(spark.sql("SELECT * FROM stream_split").collect())
    s_want = dict(SA.train_test_split(batch, {"train": 0.8, "test": 0.2}).select("doc_id", "split").collect())
    assert s_got == s_want

    chunks = X.chunk_documents(stream, chunk_tokens=2)
    _run_stream_to_memory(chunks, "stream_chunks")
    n = spark.sql("SELECT count(*) AS n FROM stream_chunks").collect()[0]["n"]
    assert n == X.chunk_documents(batch, chunk_tokens=2).count()


def test_unigram_scoring_on_stream(spark, tmp_path):
    """A batch-trained unigram model scores a document STREAM with the
    same operator code: narrow tokenize, broadcast model join, streaming
    per-doc aggregation (complete mode)."""
    from adtl_spark.operators import corpus as C

    src = tmp_path / "unigram_stream"
    src.mkdir()
    train = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b b c")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(10, "a b"), (11, "a zzz")], "doc_id long, text string"
    )
    incoming.coalesce(1).write.mode("overwrite").parquet(str(src))
    model = C.train_unigram(train, vocab_k=2)  # vocab {a, b}; c is OOV

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    scored = C.score_unigram(stream, model)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory")
        .queryName("stream_unigram")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["id"]: (r["__n"], r["__oov"], r["__qsum"])
        for r in spark.sql("SELECT * FROM stream_unigram").collect()
    }
    want = {
        r["id"]: (r["__n"], r["__oov"], r["__qsum"])
        for r in C.score_unigram(incoming, model).collect()
    }
    assert got == want  # stream scores == batch scores, doc by doc
    assert got[11][1] == 1  # zzz is out-of-vocabulary


def test_bloom_screening_on_stream(spark, tmp_path):
    """A document stream probes a batch-built bloom filter: the (word,
    bits) table broadcasts into two stream-to-batch joins, the flagged
    count is a standard streaming agg — same results as the batch probe."""
    from adtl_spark.operators import corpus as C

    src = tmp_path / "bloom_stream"
    src.mkdir()
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # overlaps
            (2, "one two three four five six"),          # clean
        ],
        "doc_id long, text string",
    )
    incoming.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    flt = C.bloom_build(ev, n=5)
    hits = C.bloom_hits(stream, flt, n=5)
    assert hits.isStreaming
    q = (
        hits.writeStream.format("memory")
        .queryName("stream_bloom")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["__did__"]: r["__n"]
        for r in spark.sql("SELECT * FROM stream_bloom").collect()
    }
    want = {
        r["__did__"]: r["__n"]
        for r in C.bloom_hits(incoming, flt, n=5).collect()
    }
    assert got == want == {1: 1}


def test_decontamination_screening_on_stream(spark, tmp_path):
    """A document stream is screened against a batch benchmark set with
    the same operator core: narrow shingling, broadcast eval-set join,
    streaming per-doc overlap count."""
    from adtl_spark.operators import corpus as C

    src = tmp_path / "decon_stream"
    src.mkdir()
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # overlaps
            (2, "one two three four five six"),          # clean
        ],
        "doc_id long, text string",
    )
    incoming.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    hits = C.contamination_hits(stream, ev, n=5)
    assert hits.isStreaming
    q = (
        hits.writeStream.format("memory")
        .queryName("stream_decon")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["__did__"]: r["__n"]
        for r in spark.sql("SELECT * FROM stream_decon").collect()
    }
    want = {
        r["__did__"]: r["__n"]
        for r in C.contamination_hits(incoming, ev, n=5).collect()
    }
    # the 5-token eval doc has exactly one 5-gram; doc 2 has no overlap
    # and is absent from the hits stream
    assert got == want == {1: 1}


def test_mixture_and_normalize_run_on_streams(spark, tmp_path):
    """The round-4 narrow operators are stream-safe by the same argument
    as hash sampling: mixture_sample is a keyed-hash CASE filter and
    normalize_text a regexp_replace chain — no state, no shuffle, and a
    row's result on the stream equals its result in batch."""
    from adtl_spark.operators import sampling as SA
    from adtl_spark.operators import text as X

    src = tmp_path / "mix_stream"
    src.mkdir()
    batch = spark.range(0, 150).selectExpr(
        "id AS doc_id",
        "concat('src', CAST(id % 3 AS STRING)) AS source",
        "concat('“quoted”  text ', CAST(id AS STRING)) AS text",
    )
    batch.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).parquet(str(src))

    weights = {"src0": 1.0, "src1": 0.4, "src2": 0.0}
    mixed = SA.mixture_sample(stream, weights)
    assert mixed.isStreaming
    _run_stream_to_memory(mixed.select("doc_id"), "stream_mixture")
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM stream_mixture").collect()}
    want = {
        r["doc_id"] for r in SA.mixture_sample(batch, weights).select("doc_id").collect()
    }
    assert got == want

    normed = X.normalize_text(stream)
    assert normed.isStreaming
    _run_stream_to_memory(normed, "stream_norm")
    rows = spark.sql("SELECT * FROM stream_norm").collect()
    assert len(rows) == 150
    assert all('"quoted" text' in r["text_norm"] and r["changed"] for r in rows)


def test_cms_sketch_aggregates_on_stream(spark, tmp_path):
    """The count-min sketch is a streaming-native structure: its state is
    the fixed depth x width cell table regardless of vocabulary size, so
    cms_build runs as a standard streaming aggregation (complete mode)
    and the streamed sketch equals the batch sketch cell for cell."""
    from adtl_spark.operators import text as X

    src = tmp_path / "cms_stream"
    src.mkdir()
    batch = spark.range(0, 120).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma tok', CAST(id % 9 AS STRING)) AS text",
    )
    # two files so the stream consumes multiple micro-batches
    batch.filter("doc_id < 60").coalesce(1).write.mode("overwrite").parquet(
        str(src / "p1")
    )
    batch.filter("doc_id >= 60").coalesce(1).write.mode("overwrite").parquet(
        str(src / "p2")
    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    sketch = X.cms_build(stream, depth=4, width=64)
    assert sketch.isStreaming
    q = (
        sketch.writeStream.format("memory")
        .queryName("stream_cms")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["row"], r["pos"]): r["cnt"]
        for r in spark.sql("SELECT * FROM stream_cms").collect()
    }
    want = {
        (r["row"], r["pos"]): r["cnt"]
        for r in X.cms_build(batch, depth=4, width=64).collect()
    }
    assert got == want


def test_hll_registers_aggregate_on_stream(spark, tmp_path):
    """The HLL register table is streaming-native the same way the CMS
    is: fixed 2^p rows per group merged with max, a supported streaming
    aggregate (complete mode).  The streamed sketch must equal the batch
    sketch register for register — which also pins mergeability across
    micro-batches."""
    from adtl_spark.operators import sketches as SK

    src = tmp_path / "hll_stream"
    src.mkdir()
    batch = spark.range(0, 200).selectExpr(
        "CAST(id % 3 AS STRING) AS grp",
        "concat('key', CAST(id % 57 AS STRING)) AS key",
    )
    batch.filter("id < 100").coalesce(1).write.mode("overwrite").parquet(
        str(src / "p1")
    )
    batch.filter("id >= 100").coalesce(1).write.mode("overwrite").parquet(
        str(src / "p2")
    )
    stream = spark.readStream.schema("grp string, key string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    regs = SK.hll_registers(stream, F.col("key"), F.col("grp"))
    assert regs.isStreaming
    q = (
        regs.writeStream.format("memory")
        .queryName("stream_hll")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["grp"], r["register"]): r["m_rho"]
        for r in spark.sql("SELECT * FROM stream_hll").collect()
    }
    want = {
        (r["grp"], r["register"]): r["m_rho"]
        for r in SK.hll_registers(batch, F.col("key"), F.col("grp")).collect()
    }
    assert got == want


def test_nb_scoring_on_stream(spark, tmp_path):
    """A batch-trained NB quality model scores a document STREAM with the
    same operator code (explode_outer tokenize, broadcast model + prior
    joins, streaming per-doc aggregation, complete mode)."""
    from adtl_spark.operators import corpus as C

    src = tmp_path / "nb_stream"
    src.mkdir()
    train = spark.createDataFrame(
        [
            (1, "good clean prose here", "wiki"),
            (2, "buy spam now free", "web"),
        ],
        "doc_id long, text string, source string",
    )
    incoming = spark.createDataFrame(
        [(10, "good prose"), (11, "spam free"), (12, "")],
        "doc_id long, text string",
    )
    incoming.coalesce(1).write.mode("overwrite").parquet(str(src))
    model, prior = C.train_nb(train, F.col("source") == "wiki", vocab_k=8)

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    scored = C.score_nb(stream, model, prior)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory")
        .queryName("stream_nb")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_tokens"], r["nb_score"], r["nb_keep"])
        for r in spark.sql("SELECT * FROM stream_nb").collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["nb_score"], r["nb_keep"])
        for r in C.score_nb(incoming, model, prior).collect()
    }
    assert got == want
    assert got[10][2] and not got[11][2]
    assert got[12][0] == 0  # empty doc present, scored at the prior


def test_windowed_hll_with_watermark_drops_late_data(spark, tmp_path):
    """HLL registers grouped by event-time window run as a WATERMARKED
    streaming aggregation in append mode: closed windows emit finalized
    register tables and data later than the watermark is dropped — the
    streaming-distinct-users-per-window pattern with bounded state."""
    import datetime as dt

    from adtl_spark.operators import sketches as SK

    src = tmp_path / "hll_win"
    src.mkdir()
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def batch(rows, name):
        spark.createDataFrame(rows, "ts timestamp, uid string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    # window 1 [00:00, 01:00): 3 users; window 2 [01:00, 02:00): 2 users
    batch(
        [(t0 + dt.timedelta(minutes=m), f"u{m % 3}") for m in range(0, 50, 10)],
        "p1",
    )
    batch(
        [
            (t0 + dt.timedelta(minutes=70), "u7"),
            (t0 + dt.timedelta(minutes=80), "u8"),
            # advances the watermark far past window 1
            (t0 + dt.timedelta(hours=4), "u9"),
        ],
        "p2",
    )
    # intermediate batch: the late-row filter applies the watermark with a
    # one-batch lag, so a fresh batch must commit AFTER the 04:00 row
    # before the straggler arrives for the drop to be observable
    batch([(t0 + dt.timedelta(hours=5), "u10")], "p3")
    # straggler: arrives after the watermark passed its window -> dropped
    batch([(t0 + dt.timedelta(minutes=5), "uLATE")], "p4")

    stream = (
        spark.readStream.schema("ts timestamp, uid string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withWatermark("ts", "1 hour")
    )
    h = SK.md5_60 if hasattr(SK, "md5_60") else None
    regs = (
        stream.select(
            F.window("ts", "1 hour").alias("win"),
            F.col("uid"),
        )
        .select(
            F.col("win"),
            F.shiftright(
                SK.md5_60(F.concat_ws("|", F.lit("hll"), F.col("uid"))), SK.HLL_W
            ).alias("register"),
            F.when(
                SK.md5_60(F.concat_ws("|", F.lit("hll"), F.col("uid")))
                % F.lit(1 << SK.HLL_W)
                == 0,
                F.lit(SK.HLL_W + 1),
            )
            .otherwise(
                F.lit(SK.HLL_W + 1)
                - F.length(
                    F.bin(
                        SK.md5_60(F.concat_ws("|", F.lit("hll"), F.col("uid")))
                        % F.lit(1 << SK.HLL_W)
                    )
                )
            )
            .alias("rho"),
        )
        .groupBy("win", "register")
        .agg(F.max("rho").alias("m_rho"))
        .select(F.col("win.start").alias("wstart"), "register", "m_rho")
    )
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_win")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM hll_win").collect()
    by_win: dict = {}
    for r in rows:
        by_win.setdefault(str(r["wstart"]), set()).add(
            (r["register"], r["m_rho"])
        )
    w1 = by_win[str(t0)]
    # exactly the 3 on-time users' registers — the late straggler's
    # register must NOT appear (it was u LATE, a distinct register whp)
    assert len(w1) == 3
    w2 = by_win[str(t0 + dt.timedelta(hours=1))]
    assert len(w2) == 2


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with event-time range condition and
    watermarks on BOTH sides — the enrichment-join pattern (impressions
    joined to clicks within 10 minutes).  State on each side is bounded
    by the watermark + interval; results must equal the batch join."""
    import datetime as dt

    t0 = dt.datetime(2026, 2, 1, 12, 0, 0)
    imp_rows = [
        (t0 + dt.timedelta(minutes=m), f"ad{m}") for m in (0, 5, 20, 40)
    ]
    clk_rows = [
        (t0 + dt.timedelta(minutes=2), "ad0"),    # within 10 min of ad0
        (t0 + dt.timedelta(minutes=14), "ad5"),   # within 10 min of ad5
        (t0 + dt.timedelta(minutes=35), "ad20"),  # 15 min after ad20: NO
        (t0 + dt.timedelta(minutes=41), "ad40"),  # within
    ]
    imp_src, clk_src = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(imp_rows, "its timestamp, ad string").coalesce(
        1
    ).write.parquet(imp_src)
    spark.createDataFrame(clk_rows, "cts timestamp, cad string").coalesce(
        1
    ).write.parquet(clk_src)

    imp = (
        spark.readStream.schema("its timestamp, ad string")
        .parquet(imp_src)
        .withWatermark("its", "30 minutes")
    )
    clk = (
        spark.readStream.schema("cts timestamp, cad string")
        .parquet(clk_src)
        .withWatermark("cts", "30 minutes")
    )
    cond = (
        (F.col("ad") == F.col("cad"))
        & (F.col("cts") >= F.col("its"))
        & (F.col("cts") <= F.col("its") + F.expr("INTERVAL 10 MINUTES"))
    )
    joined = imp.join(clk, cond)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["ad"] for r in spark.sql("SELECT ad FROM ss_join").collect()
    }
    assert got == {"ad0", "ad5", "ad40"}


def test_foreachbatch_incremental_upsert_loop(spark, tmp_path):
    """The streaming-lakehouse maintenance loop: each micro-batch MERGEs
    into the persisted corpus snapshot via corpus.merge_upsert inside
    foreachBatch — the composition that keeps a deduplicated corpus
    current as batches stream in.  Final snapshot must equal the batch
    union with last-writer-wins semantics."""
    from adtl_spark.operators import corpus as C

    snap = str(tmp_path / "snapshot")
    src = str(tmp_path / "incoming")
    import os

    os.makedirs(src)
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.parquet(snap)
    # two micro-batches: an update for 2, an insert 3; then an insert 4
    spark.createDataFrame(
        [(2, "beta-v2"), (3, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(
        [(4, "delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b2")

    def upsert(batch_df, batch_id):
        spark_l = batch_df.sparkSession
        base = spark_l.read.parquet(snap)
        merged = (
            base.join(batch_df, "doc_id", "left_anti")
            .unionByName(batch_df)
        )
        staged = snap + f"__stage{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        import shutil

        shutil.rmtree(snap)
        shutil.move(staged, snap)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(snap).collect()
    }
    assert final == {1: "alpha", 2: "beta-v2", 3: "gamma", 4: "delta"}
    # the diff classification over the same evolution is consistent
    base = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, "beta-v2"), (3, "gamma"), (4, "delta")],
        "doc_id long, text string",
    )
    st = {
        r["doc_id"]: r["status"]
        for r in C.merge_upsert(base, batch).collect()
    }
    assert st == {1: "retained", 2: "updated", 3: "inserted", 4: "inserted"}


def test_stream_trending_tokens_state_carries_across_batches(spark, tmp_path):
    """Two micro-batches: the per-shard Misra-Gries state must CARRY
    (batch-2 summaries reflect batch-1 counts), the emitted summary must
    contain every token whose total count clears the sketch guarantee,
    and state stays k-bounded."""
    import json

    from adtl_spark.streaming.stateful import stream_trending_tokens

    src = tmp_path / "trend_src"
    src.mkdir()
    b1 = [{"doc_id": i, "text": "spark spark parquet"} for i in range(10)]
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in b1))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    out = stream_trending_tokens(stream, k=5, shards=2)
    q = (
        out.writeStream.format("memory")
        .queryName("trend_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    first = {
        r["token"]: r["cnt"]
        for r in spark.sql("SELECT * FROM trend_stream").collect()
    }
    assert first.get("spark") == 20 and first.get("parquet") == 10

    # second batch: new tokens plus more of the old — state must carry
    b2 = [{"doc_id": 100 + i, "text": "spark shuffle"} for i in range(5)]
    (src / "b2.json").write_text("\n".join(json.dumps(d) for d in b2))
    q2 = (
        stream_trending_tokens(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            k=5,
            shards=2,
        )
        .writeStream.format("memory")
        .queryName("trend_stream2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    # fresh query re-reads both files as one availableNow pass; totals
    # accumulate across them (25 spark, 10 parquet, 5 shuffle)
    rows = spark.sql(
        "SELECT token, max(cnt) AS cnt FROM trend_stream2 GROUP BY token"
    ).collect()
    total = {r["token"]: r["cnt"] for r in rows}
    assert total.get("spark") == 25
    assert total.get("parquet") == 10
    assert total.get("shuffle") == 5


def test_finalize_trending_from_live_stream_summaries(spark, tmp_path):
    """The batch finalizer consumes summaries emitted by the LIVE
    applyInPandasWithState stream and produces the exact frequent-token
    set (count > n/k) — the full stream-sketch -> batch-finalize
    contract, end to end."""
    import json

    from adtl_spark.streaming.stateful import (
        finalize_trending,
        stream_trending_tokens,
        trending_summaries_batch,
    )

    docs = [
        {"doc_id": i, "text": "hot hot hot warm cold" if i % 2 else "hot warm rare%d" % i}
        for i in range(20)
    ]
    src = tmp_path / "trend_fin_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:10]))
    (src / "b2.json").write_text("\n".join(json.dumps(d) for d in docs[10:]))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    out = stream_trending_tokens(stream, k=4, shards=2)
    q = (
        out.writeStream.format("memory")
        .queryName("trend_fin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    summaries = spark.sql("SELECT token, cnt FROM trend_fin")
    assert summaries.count() > 0

    batch_docs = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], ["doc_id", "text"]
    )
    got = {
        (r["token"], r["cnt"])
        for r in finalize_trending(summaries, batch_docs, k=4, shards=2).collect()
    }
    # exact contract: tokens with count > n/k, exact counts
    from collections import Counter

    counts = Counter(t for d in docs for t in d["text"].lower().split())
    n = sum(counts.values())
    want = {(t, c) for t, c in counts.items() if c > n / 4}
    assert got == want

    # the batch twin's summaries finalize to the same exact set
    got_batch = {
        (r["token"], r["cnt"])
        for r in finalize_trending(
            trending_summaries_batch(batch_docs, k=4, shards=2),
            batch_docs,
            k=4,
            shards=2,
        ).collect()
    }
    assert got_batch == want


def test_drift_monitor_scores_each_microbatch(spark, tmp_path):
    """Streaming drift monitoring: every micro-batch gets a PSI score
    against the static reference via foreachBatch, the logged totals
    equal the batch twin exactly, and a shifted batch scores higher than
    an in-distribution batch."""
    import os

    from pyspark.sql import functions as F

    from adtl_spark.operators.monitor import psi_drift
    from adtl_spark.streaming.pipeline import drift_monitor_sink

    ref_rows = [(i, 100 + (i * 37) % 300) for i in range(400)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, n_chars long")
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    # b1: in-distribution; b2: shifted right by 300 chars
    b1 = [(1000 + i, 100 + (i * 53) % 300) for i in range(200)]
    b2 = [(2000 + i, 400 + (i * 53) % 300) for i in range(200)]
    spark.createDataFrame(b1, "doc_id long, n_chars long").coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, "doc_id long, n_chars long").coalesce(1).write.parquet(src + "/b2")

    bucket = F.least(F.floor(F.col("n_chars") / 100), F.lit(7))
    log = str(tmp_path / "drift_log")
    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(
        drift_monitor_sink(ref, bucket, 8, log)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(log).collect()
    assert len(rows) == 2
    assert all(r["n_ref"] == 400 and r["n_cur"] == 200 for r in rows)
    # the logged totals equal the batch twins exactly (order-free compare:
    # file-stream batch ids depend on listing order)
    scores = sorted(r["psi_q6_total"] for r in rows)
    b1_twin = psi_drift(
        ref, spark.createDataFrame(b1, "doc_id long, n_chars long"), bucket, 8
    ).agg(F.sum("psi_q6").alias("t")).collect()[0]["t"]
    b2_twin = psi_drift(
        ref, spark.createDataFrame(b2, "doc_id long, n_chars long"), bucket, 8
    ).agg(F.sum("psi_q6").alias("t")).collect()[0]["t"]
    assert scores == sorted([b1_twin, b2_twin])
    assert b2_twin > b1_twin  # the shifted batch is the louder one


def test_quantile_sketch_merges_across_microbatches(spark, tmp_path):
    """The bottom-k quantile sample maintains itself on a stream via
    foreachBatch: each micro-batch's per-group bottom-k merges into a
    parquet sketch store (union + re-take-k — the quantile_bottomk merge
    law), so the store stays k rows per group however long the stream
    runs.  Quantiles read from the final store must equal the batch
    sketch over all the data."""
    from pyspark.sql import Window

    from adtl_spark.operators.dedup import md5_60
    from adtl_spark.operators.sketches import quantile_bottomk

    k = 16
    src = tmp_path / "q_stream"
    src.mkdir()
    store = str(tmp_path / "q_store")
    rows = spark.range(0, 300).selectExpr(
        "CAST(id % 2 AS STRING) AS g",
        "id AS k_id",
        "(id * 31) % 97 AS v",
    )
    for i, pred in enumerate(("id < 100", "id >= 100 AND id < 200", "id >= 200")):
        rows.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"p{i}")
        )

    def sample(df):
        h = md5_60(F.concat_ws("|", F.lit("qsk"), F.col("k_id").cast("string")))
        w = Window.partitionBy("g").orderBy("h")
        return (
            df.select("g", h.alias("h"), F.col("v").cast("long").alias("v"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )

    def merge(batch_df, batch_id):
        sk = sample(batch_df)
        try:
            prev = batch_df.sparkSession.read.parquet(store)
            sk = sk.unionByName(prev)
        except Exception:
            pass
        w = Window.partitionBy("g").orderBy("h")
        merged = (
            sk.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
        merged.localCheckpoint().write.mode("overwrite").parquet(store)

    stream = spark.readStream.schema("g string, k_id long, v long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.read.parquet(store)
    wv = Window.partitionBy("g").orderBy("v", "h")
    ranked = final.withColumn("rn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    streamed = ranked.groupBy("g").agg(
        F.max("n").cast("long").alias("n_sample"),
        *[
            F.max(
                F.expr(f"CASE WHEN rn = (n*{qq}+99) DIV 100 THEN v END")
            ).cast("long").alias(f"q{qq}")
            for qq in (10, 25, 50, 75, 90)
        ],
    ).orderBy("g")
    batch = quantile_bottomk(rows, "v", "k_id", "g", k=k, group_name="g")
    assert streamed.collect() == batch.collect()


def test_shard_manifest_maintained_on_stream(spark, tmp_path):
    """The manifest maintains itself on a stream via foreachBatch: each
    micro-batch's manifest merges into a parquet store with sum/xor
    (the additivity law), so the store always equals the batch manifest
    of everything seen — incremental integrity without rescanning."""
    from adtl_spark.sources.io import shard_manifest

    src = tmp_path / "m_stream"
    src.mkdir()
    store = str(tmp_path / "m_store")
    rows = spark.range(0, 240).selectExpr("id AS doc_id", "10 + id % 13 AS n_chars")
    for i, pred in enumerate(("id < 80", "id >= 80 AND id < 160", "id >= 160")):
        rows.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"p{i}")
        )

    def merge(batch_df, batch_id):
        m = shard_manifest(batch_df, 4, size_col="n_chars")
        try:
            prev = batch_df.sparkSession.read.parquet(store)
            m = m.unionByName(prev)
        except Exception:
            pass
        combined = m.groupBy("shard").agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("total_size").cast("long").alias("total_size"),
            F.expr("bit_xor(checksum)").alias("checksum"),
        )
        combined.localCheckpoint().write.mode("overwrite").parquet(store)

    stream = spark.readStream.schema("doc_id long, n_chars long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        map(tuple, spark.read.parquet(store).select(
            "shard", "n_rows", "total_size", "checksum").collect())
    )
    want = sorted(
        map(tuple, shard_manifest(rows, 4, size_col="n_chars").collect())
    )
    assert got == want


def test_ks_drift_monitor_scores_each_microbatch(spark, tmp_path):
    """KS streaming monitor: every micro-batch's D statistic against
    the static reference equals the batch twin, and the shifted batch
    reports a larger D with d_at inside the shifted region."""
    import os

    from adtl_spark.operators.monitor import ks_drift
    from adtl_spark.streaming.pipeline import ks_drift_monitor_sink

    ref = spark.createDataFrame(
        [(i, 100 + (i * 37) % 300) for i in range(400)],
        "doc_id long, n_chars long",
    )
    src = str(tmp_path / "incoming_ks")
    os.makedirs(src)
    b1 = [(1000 + i, 100 + (i * 53) % 300) for i in range(200)]
    b2 = [(2000 + i, 400 + (i * 53) % 300) for i in range(200)]
    spark.createDataFrame(b1, "doc_id long, n_chars long").coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, "doc_id long, n_chars long").coalesce(1).write.parquet(src + "/b2")

    log = str(tmp_path / "ks_log")
    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(
        ks_drift_monitor_sink(ref, F.col("n_chars"), log)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(log).collect()
    assert len(rows) == 2 and all(r["n_ref"] == 400 for r in rows)
    twins = sorted(
        ks_drift(
            ref,
            spark.createDataFrame(b, "doc_id long, n_chars long"),
            F.col("n_chars"),
        ).collect()[0]["d_q6"]
        for b in (b1, b2)
    )
    assert sorted(r["d_q6"] for r in rows) == twins
    # the fully-shifted batch is (near-)maximally drifted and louder
    assert max(twins) > min(twins)
    assert max(r["d_q6"] for r in rows) > 900000


def test_centroid_drift_monitor_scores_each_microbatch(spark, tmp_path):
    """Embedding streaming monitor: every micro-batch's per-label
    centroid geometry against the static reference equals the batch
    twin, and a rotated-embedding batch reports a lower cosine than an
    identical-distribution batch."""
    import os

    from pyspark.sql import functions as F

    from adtl_spark.operators.monitor import centroid_drift
    from adtl_spark.streaming.pipeline import centroid_drift_monitor_sink

    def vec(i, flip=False):
        base = [1.0 + (i % 5) * 0.1, 2.0 - (i % 3) * 0.2, 0.5, -1.0]
        return [-x for x in base] if flip else base

    schema = "vec_id long, label long, embedding array<double>"
    ref = spark.createDataFrame(
        [(i, i % 2, vec(i)) for i in range(40)], schema
    )
    src = str(tmp_path / "incoming_emb")
    os.makedirs(src)
    b1 = [(100 + i, i % 2, vec(i)) for i in range(20)]
    b2 = [(200 + i, i % 2, vec(i, flip=True)) for i in range(20)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")

    log = str(tmp_path / "emb_log")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(
        centroid_drift_monitor_sink(ref, log, label_col="label")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(log).collect()
    # two batches x two labels
    assert len(rows) == 4 and all(r["n_ref"] == 20 for r in rows)
    for b in (b1, b2):
        twin = {
            r["label"]: r["cos_q6"]
            for r in centroid_drift(
                ref, spark.createDataFrame(b, schema), label_col="label"
            ).collect()
        }
        got = {
            r["label"]: r["cos_q6"]
            for r in rows
            if (r["n_cur"], r["label"]) in {(10, 0), (10, 1)}
            and r["cos_q6"] in (twin[0], twin[1])
        }
        assert twin[0] in {r["cos_q6"] for r in rows}
        assert twin[1] in {r["cos_q6"] for r in rows}
    # the flipped batch reads as maximal angular drift (cos ~ -1) while
    # the same-distribution batch stays ~1 (not exactly 1: the i%3 cycle
    # doesn't divide the batch size evenly, so the means differ slightly)
    assert min(r["cos_q6"] for r in rows) < -900000
    assert max(r["cos_q6"] for r in rows) > 999000


def test_stream_debounce_last_kept(spark, tmp_path):
    """Previous-KEPT debounce: rate-limit semantics across micro-batch
    boundaries — the survivor chain must thread through state, and the
    result must match a sequential python replay (and DIFFER from the
    trailing/burst form on a chained burst)."""
    import os

    from adtl_spark.streaming.stateful import stream_debounce_last_kept

    W = 5
    # user 1: chained burst at ts 0,3,6,9,12 -> keep 0,6,12 under
    # previous-KEPT (trailing form would keep only 0)
    b1 = [(1, "click", 10, 0), (1, "click", 11, 3), (1, "click", 12, 6)]
    b2 = [(1, "click", 13, 9), (1, "click", 14, 12), (2, "view", 20, 100)]
    schema = "user_id long, event_type string, event_id long, ts long"
    src = str(tmp_path / "deb_src")
    os.makedirs(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = str(tmp_path / "deb_out")
    chk = str(tmp_path / "deb_chk")
    q = (
        stream_debounce_last_kept(stream, window_ns=W)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["user_id"], r["event_id"], r["ts"])
        for r in spark.read.parquet(out).collect()
    )
    # python sequential replay over the global (batch, ts) order
    events = sorted(b1) + sorted(b2)
    last: dict = {}
    want = []
    for u, t, eid, ts in sorted(b1 + b2, key=lambda r: (r[3], r[2])):
        k = (u, t)
        if k not in last or ts - last[k] > W:
            want.append((u, eid, ts))
            last[k] = ts
    assert got == sorted(want)
    # the chain: 0, 6, 12 survive for user 1 (trailing form keeps only 0)
    assert [(ts) for u, e, ts in got if u == 1] == [0, 6, 12]


def test_bitmap_distinct_maintained_on_stream(spark, tmp_path):
    """The exact-distinct bitmap maintains itself on a stream via
    foreachBatch: each micro-batch's (grp, word, bits) table OR-merges
    into a parquet bitmap store (the bitmap_distinct_rollup merge law),
    so the store stays ceil(domain/63) words per group however long the
    stream runs — and the distinct counts read from the final store
    equal the batch rollup over all the data, EXACTLY (no HLL error)."""
    from pyspark.sql import functions as SF

    from adtl_spark.operators.sketches import bitmap_distinct_rollup

    src = tmp_path / "bm_stream"
    src.mkdir()
    store = str(tmp_path / "bm_store")
    rows = spark.range(0, 300).selectExpr(
        "CAST(id % 2 AS STRING) AS g", "(id * 7) % 150 AS k"
    )
    for i, pred in enumerate(("id < 100", "id >= 100 AND id < 200", "id >= 200")):
        rows.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"p{i}")
        )

    def bitmaps(df):
        return (
            df.select(
                "g",
                SF.expr("k DIV 63").alias("word"),
                SF.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(k % 63 AS INT))"
                ).alias("bits"),
            )
            .groupBy("g", "word")
            .agg(SF.bit_or("bits").alias("bits"))
        )

    def merge(batch_df, batch_id):
        bm = bitmaps(batch_df)
        try:
            prev = batch_df.sparkSession.read.parquet(store)
            bm = bm.unionByName(prev)
        except Exception:
            pass
        merged = bm.groupBy("g", "word").agg(SF.bit_or("bits").alias("bits"))
        merged.localCheckpoint().write.mode("overwrite").parquet(store)

    stream = spark.readStream.schema("g string, k long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.read.parquet(store)
    streamed = {
        r["g"]: r["d"]
        for r in final.groupBy("g")
        .agg(SF.sum(SF.expr("bit_count(bits)")).cast("long").alias("d"))
        .collect()
    }
    batch = {
        r["grp"]: r["n_distinct"]
        for r in bitmap_distinct_rollup(rows, "k", "g").collect()
        if r["grp"] != "__all__"
    }
    assert streamed == batch
    # exactness cross-check against countDistinct
    want = {
        r["g"]: r["d"]
        for r in rows.groupBy("g").agg(SF.countDistinct("k").alias("d")).collect()
    }
    assert streamed == want


def test_ann_query_sink_serves_stream_from_persisted_index(spark, tmp_path):
    """ANN serving loop: a STREAM of query vectors runs per micro-batch
    against the persisted IVF-PQ index; logged results equal the batch
    query of the same vectors against the same index."""
    import math
    import os

    from adtl_spark.operators.similarity import (
        ann_ivfpq_query_index,
        write_ivfpq_index,
    )
    from adtl_spark.streaming.pipeline import ann_query_sink

    dim, m, ks, n_centroids, n_probe, k = 8, 2, 4, 4, 2, 3
    corpus = spark.createDataFrame(
        [
            (i, [math.sin(i * 7 + d * 3) * 2 for d in range(dim)])
            for i in range(12)
        ],
        "vec_id long, embedding array<double>",
    )
    index = str(tmp_path / "serve_idx")
    write_ivfpq_index(corpus, index, n_centroids=n_centroids, m=m, ks=ks, dim=dim)

    queries = [
        (100 + i, [math.cos(i * 5 + d) * 2 for d in range(dim)]) for i in range(4)
    ]
    src = str(tmp_path / "q_src")
    os.makedirs(src)
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(queries[:2], schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(queries[2:], schema).coalesce(1).write.parquet(src + "/b2")

    log = str(tmp_path / "serve_log")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(
        ann_query_sink(index, log, n_probe=n_probe, k=k)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["query_id"], r["rank"], r["corpus_id"], r["qdist"])
        for r in spark.read.parquet(log).collect()
    )
    batch = ann_ivfpq_query_index(
        spark, index, spark.createDataFrame(queries, schema),
        n_probe=n_probe, k=k,
    )
    want = sorted(
        (r["query_id"], r["rank"], r["corpus_id"], r["qdist"])
        for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_search_index_maintained_on_stream(spark, tmp_path):
    """The lexical search index maintains itself on a document stream
    via foreachBatch append_to_search_index: postings/dl rows append,
    lexicon and corpus stats merge (staying vocabulary-/one-row-sized
    for the stream's lifetime), and BM25 served from the maintained
    index equals a from-scratch build over everything the stream has
    seen."""
    from pyspark.sql import functions as F

    from adtl_spark.operators.retrieval import (
        append_to_search_index,
        bm25_query_index,
        write_search_index,
    )

    docs = [
        (1, "spark joins the hash table with spark speed"),
        (2, "columnar scan and filter over parquet"),
        (3, "hash join beats sort merge join on small tables"),
        (4, "the quick brown fox"),
        (5, "spark spark spark scan scan filter"),
        (6, "merge sort on the columnar batch"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    src = tmp_path / "idx_stream"
    src.mkdir()
    for i, pred in enumerate(("doc_id <= 2", "doc_id IN (3, 4)", "doc_id >= 5")):
        df.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"p{i}")
        )
    store = str(tmp_path / "idx_store")
    # seed an empty index so every micro-batch is a pure append
    write_search_index(df.filter(F.lit(False)), store, n_buckets=16)

    def ingest(batch_df, batch_id):
        append_to_search_index(batch_df, store, n_buckets=16)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(ingest).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    qdf = spark.createDataFrame(
        [(1, "spark hash join"), (2, "columnar filter")],
        "query_id long, query string",
    )
    full = str(tmp_path / "idx_full")
    write_search_index(df, full, n_buckets=16)
    got = sorted(
        tuple(r)
        for r in bm25_query_index(spark, store, qdf, k=5, n_buckets=16).collect()
    )
    want = sorted(
        tuple(r)
        for r in bm25_query_index(spark, full, qdf, k=5, n_buckets=16).collect()
    )
    assert got == want


def test_bm25_query_sink_serves_stream_equal_to_batch(spark, tmp_path):
    """Lexical serving loop: text queries stream in; every micro-batch
    scores against the persisted search index and appends to a result
    log.  The union of logged batches must equal batch BM25 over all
    the queries."""
    from pyspark.sql import functions as F

    from adtl_spark.operators.retrieval import write_search_index
    from adtl_spark.operators.text import bm25_topk
    from adtl_spark.streaming.pipeline import bm25_query_sink

    docs = spark.createDataFrame(
        [
            (1, "spark joins the hash table with spark speed"),
            (2, "columnar scan and filter over parquet"),
            (3, "hash join beats sort merge join on small tables"),
            (4, "spark spark spark scan scan filter"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "serve_idx")
    write_search_index(docs, idx, n_buckets=16)

    queries = [(1, "spark hash join"), (2, "columnar filter"), (3, "scan")]
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    src = tmp_path / "q_src"
    src.mkdir()
    for i, pred in enumerate(("query_id = 1", "query_id >= 2")):
        qdf.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"p{i}")
        )
    log = str(tmp_path / "serve_log")
    stream = spark.readStream.schema("query_id long, query string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(bm25_query_sink(idx, log, k=3)).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(log)
        .select("query_id", "doc_id", "rank", "bm25")
        .collect()
    )
    want = sorted(tuple(r) for r in bm25_topk(docs, qdf, k=3).collect())
    assert got == want


def test_doremi_monitor_sink_equals_batch_twin(spark, tmp_path):
    """Online mixture monitoring: each micro-batch's DoReMi weight
    update against the static reference model must equal
    sampling.doremi_step(batch, model=reference)."""
    from pyspark.sql import functions as F

    from adtl_spark.operators.corpus import train_unigram
    from adtl_spark.operators.sampling import doremi_step
    from adtl_spark.streaming.pipeline import doremi_monitor_sink

    ref = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha", "a"),
            (2, "beta beta delta", "b"),
            (3, "alpha delta delta epsilon", "a"),
        ],
        "doc_id long, text string, source string",
    )
    model = train_unigram(ref).localCheckpoint(eager=True)

    batches = [
        [(10, "alpha beta", "a"), (11, "zzz yyy", "b")],
        [(12, "delta delta epsilon", "b"), (13, "alpha", "c")],
    ]
    src = tmp_path / "dm_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"p{i}"))
    log = str(tmp_path / "dm_log")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).option("maxFilesPerTrigger", 1).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(
        doremi_monitor_sink(model, log)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    logged = spark.read.parquet(log)
    assert logged.select("batch_id").distinct().count() == 2
    for rows in batches:
        batch_df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        want = sorted(
            tuple(r) for r in doremi_step(batch_df, model=model).collect()
        )
        # find the logged batch containing these domains/token counts
        matched = False
        for bid in [r["batch_id"] for r in logged.select("batch_id").distinct().collect()]:
            got = sorted(
                tuple(r)
                for r in logged.filter(F.col("batch_id") == bid)
                .select("domain", "n_tokens", "nll", "excess", "weight")
                .collect()
            )
            if got == want:
                matched = True
                break
        assert matched, f"no logged batch equals the twin for {rows}"
