"""Round-16 (optimization round 13) focused tests: the ADVICE/VERDICT
correctness fixes taken this round, plus pins for optimization-touched
operator internals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- mp2 tables
def test_lr4_table_tops_at_15_bits():
    """ISO 11172-3 Table 3-B.2c/d nbal=4 rows top out at 32767 (15-bit
    ungrouped) — 65535 would read 16 bits for allocation code 15 and
    desync the rest of the frame (r12 ADVICE, medium)."""
    from adtl_spark.operators.mp2_lite import (
        _STEPS_LR4,
        _STEPS_LSF4,
        _alloc_table,
    )

    assert _STEPS_LR4[-1] == 32767
    # the LSF table (13818-3 Table B.1) shares the same 15-bit-capped
    # ladder; the two must agree or one of them is wrong again
    assert _STEPS_LR4 == _STEPS_LSF4
    for nbal, steps in _alloc_table(44100, 48):
        assert steps[-1] <= 32767


# ------------------------------------------------------------- pdf /Encrypt
def _minimal_encrypted_payload(enc_body: bytes) -> bytes:
    """A syntactically sufficient payload for _parse_encrypt: a trailer
    naming the /Encrypt object plus the object body itself (the parser
    is regex-scan based; no xref needed)."""
    return (
        b"%PDF-1.6\n9 0 obj\n" + enc_body + b"\nendobj\n"
        b"trailer\n<< /Size 10 /Root 1 0 R /Encrypt 9 0 R "
        b"/ID [<00112233445566778899aabbccddeeff> <00>] >>\n%%EOF\n"
    )


def test_parse_encrypt_v4_byte_valued_cf_length():
    """V4 bodies that only carry the crypt-filter dict's BYTE-valued
    /Length ('/CFM /V2 /Length 16') must derive a 16-byte key, not
    16//8 = 2 (r12 ADVICE, low)."""
    from adtl_spark.operators.pdf_crypt import (
        compute_o,
        compute_u,
        object_key,
        rc4,
        standard_key,
    )
    from adtl_spark.operators.pdf_lite import (
        _parse_encrypt,
        _string_bytes_after,
    )

    p = -44
    file_id = bytes.fromhex("00112233445566778899aabbccddeeff")
    o_entry = compute_o(b"owner", b"", 4, 16)
    key = standard_key(b"", o_entry, p, file_id, 4, 16)
    u_entry = compute_u(key, file_id, 4)
    esc = (
        o_entry.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
        .replace(b"\r", b"\\r"),
        u_entry.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
        .replace(b"\r", b"\\r"),
    )
    enc_body = (
        b"<< /Filter /Standard /V 4 /R 4 "
        b"/CF << /StdCF << /CFM /V2 /Length 16 >> >> "
        b"/StmF /StdCF /StrF /StdCF /O (%s) /U (%s) /P %d >>"
        % (esc[0], esc[1], p)
    )
    payload = _minimal_encrypted_payload(enc_body)
    # sanity: the entries survive the literal-string round trip
    assert _string_bytes_after(enc_body, rb"/O") == o_entry
    dec = _parse_encrypt(payload)
    assert dec is not None
    ct = rc4(object_key(key, 12, 0, aes=False), b"hello stream")
    assert dec(12, 0, ct) == b"hello stream"


def test_parse_encrypt_stmf_identity_skips_decryption():
    """/StmF /Identity means streams are NOT encrypted; the parser must
    not 'decrypt' them into garbage (r12 ADVICE, low)."""
    from adtl_spark.operators.pdf_crypt import compute_o, compute_u, standard_key
    from adtl_spark.operators.pdf_lite import _parse_encrypt

    p = -44
    file_id = bytes.fromhex("00112233445566778899aabbccddeeff")
    o_entry = compute_o(b"owner", b"", 4, 16)
    key = standard_key(b"", o_entry, p, file_id, 4, 16)
    u_entry = compute_u(key, file_id, 4)

    def esc(s: bytes) -> bytes:
        return (
            s.replace(b"\\", b"\\\\")
            .replace(b"(", b"\\(")
            .replace(b")", b"\\)")
            .replace(b"\r", b"\\r")
        )

    enc_body = (
        b"<< /Filter /Standard /V 4 /R 4 "
        b"/CF << /StdCF << /CFM /V2 /Length 16 >> >> "
        b"/StmF /Identity /StrF /StdCF /O (%s) /U (%s) /P %d >>"
        % (esc(o_entry), esc(u_entry), p)
    )
    assert _parse_encrypt(_minimal_encrypted_payload(enc_body)) is None


def test_aes_cbc_decrypt_degenerate_streams():
    """Zero-length and IV-only encrypted streams degrade to b'' instead
    of aborting the whole file (r12 ADVICE, low)."""
    from adtl_spark.operators.pdf_crypt import aes_cbc_decrypt

    key = bytes(range(16))
    assert aes_cbc_decrypt(key, b"") == b""
    assert aes_cbc_decrypt(key, bytes(16)) == b""
    with pytest.raises(ValueError):
        aes_cbc_decrypt(key, bytes(17))


# ------------------------------------------------- frontier offsets except
def test_frontier_offsets_corrupt_delta_fails_batch(spark, tmp_path):
    """A corrupted/unreadable delta must FAIL the batch, not silently
    restart every host's continuation offset from zero (r12 VERDICT
    What's-wrong #2).  Only the first-batch no-deltas-yet case may
    yield empty offsets."""
    from adtl_spark.streaming.pipeline import _frontier_offsets

    store = str(tmp_path / "store")
    # first batch, nothing on disk: None (no offsets yet), not an error
    assert _frontier_offsets(spark, store, 0) is None

    # corrupted delta: not a parquet file at all
    delta_dir = tmp_path / "store" / "delta" / "0"
    delta_dir.mkdir(parents=True)
    (delta_dir / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        offs = _frontier_offsets(spark, store, 1)
        if offs is not None:  # reading may be lazy; force it
            offs.collect()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_frontier_offsets_valid_delta_still_read(spark, tmp_path):
    from adtl_spark.streaming.pipeline import _frontier_offsets

    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("h1", 3, 0), ("h2", 5, 0)], "host string, count long, batch_id long"
    ).write.parquet(f"{store}/delta/0")
    offs = _frontier_offsets(spark, store, 1)
    got = {r["host"]: r["__off"] for r in offs.collect()}
    assert got == {"h1": 3, "h2": 5}


# -------------------------------------------- r13 cache-release contracts
def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _clear_persistent(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def test_triangle_count_releases_edge_caches(spark):
    """triangle_count now persists the deduplicated and the oriented edge
    relations (the caller's edge pipeline re-executed once per reference
    — 18 backbone copies in the triangles gate's uncached plan) and must
    release BOTH before returning; only the one-row result checkpoint
    may survive the call."""
    from adtl_spark.operators import graph as G

    _clear_persistent(spark)
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4),
                                (1, 4)] for a, b in [(a, b), (b, a)]],
        "src long, dst long, w long",
    )
    n0 = _n_persistent(spark)
    out = G.triangle_count(edges)
    assert out.collect()[0]["n_triangles"] == 4
    assert _n_persistent(spark) - n0 <= 1


def test_pagerank_releases_vertex_cache(spark):
    """pagerank persists the vertex relation (executed once per iteration
    plus the broadcast-gate count) and must release it with the edge
    cache; leftovers after the call are at most the per-iteration rank
    checkpoints."""
    from adtl_spark.operators import graph as G

    _clear_persistent(spark)
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (2, 3, 2), (3, 2, 2)],
        "src long, dst long, w long",
    )
    verts = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    n0 = _n_persistent(spark)
    out = G.pagerank(edges, verts, iters=3).collect()
    assert len(out) == 3
    # 3 iteration checkpoints may linger; ew + vertices must not
    assert _n_persistent(spark) - n0 <= 3


def test_dhash_pairs_releases_hash_cache(spark):
    """dhash_pairs persists the (media_id, hi, lo) relation so the decode
    chain upstream executes once, not once per banding-join side, and
    materializes the pair list through session.cut_and_release; only
    the result checkpoint may survive."""
    from adtl_spark.operators.multimodal import dhash_pairs

    _clear_persistent(spark)
    hashes = spark.createDataFrame(
        [(1, 7, 7), (2, 7, 7), (3, 7, 6), (4, None, None)],
        "media_id long, dhash_hi long, dhash_lo long",
    )
    n0 = _n_persistent(spark)
    rows = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_pairs(hashes, max_hamming=8).collect()
    }
    # identical hashes at distance 0; (hi 7, lo 7) vs (hi 7, lo 6): the
    # lo halves differ in 2 bits (0b111 vs 0b110 -> 1 bit) -- compute:
    # 7 ^ 6 = 1 -> bit_count 1
    assert rows[(1, 2)] == 0 and rows[(1, 3)] == 1 and rows[(2, 3)] == 1
    assert (4, 1) not in rows and (1, 4) not in rows
    assert _n_persistent(spark) - n0 <= 1


def test_ivf_cell_assign_gate_branches_bit_equal(spark):
    """_ivf_cell_assign picks the expression form below the size gate and
    the Arrow pass above it; the two branches must be bit-identical
    (cells AND passthrough vector) so the gate can never change a
    result."""
    from adtl_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i % 7) + 0.25, float((i * 3) % 5) - 1.5,
              0.125 * (i % 11), -0.5 * (i % 3)])
         for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    cents = S._centroid_literals(emb, 4, "vec_id", "embedding")
    rel = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    # default gate (10k): 60 rows -> expression branch, no Python node
    lazy = S._ivf_cell_assign(rel, cents)
    assert "MapInPandas" not in lazy._jdf.queryExecution().toString()
    expr_rows = sorted(
        (r["corpus_id"], r["cell"], tuple(r["cv"])) for r in lazy.collect()
    )
    # forced gate: Arrow branch
    spark.conf.set(S.ARROW_ASSIGN_ROWS_CONF, "1")
    try:
        arrow = S._ivf_cell_assign(rel, cents)
        assert "MapInPandas" in arrow._jdf.queryExecution().toString()
        arrow_rows = sorted(
            (r["corpus_id"], r["cell"], tuple(r["cv"]))
            for r in arrow.collect()
        )
    finally:
        spark.conf.unset(S.ARROW_ASSIGN_ROWS_CONF)
    assert expr_rows == arrow_rows


def test_semantic_dedup_releases_distinct_vector_cache(spark):
    """semantic_dedup persists the distinct-vector relation (referenced
    by both threat-join sides and the member join-back) and must release
    it once the survivor list materializes; only the result checkpoint
    may survive the call."""
    from adtl_spark.operators.similarity import semantic_dedup

    _clear_persistent(spark)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]),
         (4, [0.70710678, 0.70710678])],
        "vec_id long, embedding array<float>",
    )
    n0 = _n_persistent(spark)
    rows = semantic_dedup(emb, tau=0.99, k=2, iters=1).collect()
    survivors = sorted(r["vec_id"] for r in rows)
    # 2 duplicates 1 exactly (cos=1 >= tau) and is dropped; 3 and 4 are
    # at cos ~0.707 from each other and below tau from everything else
    assert survivors == [1, 3, 4]
    assert _n_persistent(spark) - n0 <= 1
