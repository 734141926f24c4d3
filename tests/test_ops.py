"""Checkpoint/resume + lineage + dedup/similarity/multimodal unit tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from learnedspatial_spark.ops.checkpoint import CheckpointManifest, run_resumable_cells


def test_checkpoint_resume(tmp_path):
    root = str(tmp_path / "ckpt")
    spec = {"scheme": "fixed_grid", "xmin": 0.0, "xmax": 1.0, "n_cells": 4}
    m = CheckpointManifest.load_or_create(root, "fit", spec)
    processed: list[list[int]] = []
    run_resumable_cells(m, range(10), processed.append, batch_size=3)
    assert sorted(c for b in processed for c in b) == list(range(10))
    # simulated restart: nothing pending
    m2 = CheckpointManifest.load_or_create(root, "fit", spec)
    again: list[list[int]] = []
    n = run_resumable_cells(m2, range(10), again.append)
    assert n == 0 and again == []
    # new cells appear -> only they run
    n = run_resumable_cells(m2, range(12), again.append)
    assert n == 2 and again == [[10, 11]]


def test_checkpoint_kill_mid_run(tmp_path):
    root = str(tmp_path / "ckpt")
    m = CheckpointManifest.load_or_create(root, "job", None)

    calls = []

    def boom(batch):
        calls.append(batch)
        if len(calls) == 2:
            raise RuntimeError("kill")

    with pytest.raises(RuntimeError):
        run_resumable_cells(m, range(9), boom, batch_size=3)
    m2 = CheckpointManifest.load_or_create(root, "job", None)
    assert m2.pending(range(9)) == [3, 4, 5, 6, 7, 8]  # batch 2 not marked


def test_checkpoint_lineage_mismatch(tmp_path):
    root = str(tmp_path / "ckpt")
    m0 = CheckpointManifest.load_or_create(root, "fit", {"scheme": "a"})
    m0.mark_done([1, 2, 3])
    with pytest.raises(ValueError):
        CheckpointManifest.load_or_create(root, "fit", {"scheme": "b"})
    # reset_on_mismatch: a legitimately changed spec gets a FRESH manifest
    # (no done cells -> the caller rebuilds from scratch) instead of a
    # permanently wedged out_root
    m = CheckpointManifest.load_or_create(root, "fit", {"scheme": "b"},
                                          reset_on_mismatch=True)
    assert m.done_cells == set() and m.partitioner_spec == {"scheme": "b"}
    m.flush()
    # and the reset persists: the next resume under the NEW spec loads clean
    m2 = CheckpointManifest.load_or_create(root, "fit", {"scheme": "b"})
    assert m2.done_cells == set()
    # matching spec never resets
    m2.mark_done([7])
    m3 = CheckpointManifest.load_or_create(root, "fit", {"scheme": "b"},
                                           reset_on_mismatch=True)
    assert m3.done_cells == {7}


def test_minhash_finds_near_dups(spark):
    import pandas as pd
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    rows = [(0, base), (1, base.replace("lazy", "sleepy")), (2, "completely different words " * 4),
            (3, base)]
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [r[0] for r in rows],
                                               "text": [r[1] for r in rows]}))
    from learnedspatial_spark.operators import dedup
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_md5_pairs(docs, threshold=0.5, bands=32).collect()}
    assert (0, 3) in pairs          # exact dup
    assert (0, 1) in pairs or (1, 3) in pairs  # near dup
    assert not any(2 in p for p in pairs)


def test_neardup_clusters_transitive(spark):
    """A~B and B~C must land in ONE cluster even when A~C is no candidate
    pair — the property pairs alone don't give you.  Chain of step edits:
    doc i and i+1 share most token shingles; ends of the chain differ a
    lot.  Singletons cluster to themselves."""
    import pandas as pd
    words = ["alpha bravo charlie delta echo foxtrot golf hotel india juliet "
             "kilo lima mike november oscar papa quebec romeo sierra tango"]
    chain = []
    toks = words[0].split()
    for i in range(4):
        t = list(toks)
        for j in range(0, i * 2 + 2):   # CUMULATIVE prefix mutation: doc i
            t[j] = f"mut{j}"            # and i+1 differ in just 2 tokens,
        chain.append(" ".join(t))       # doc 0 and 3 in 6 (J ~= 0.36)
    rows = [(10, chain[0]), (11, chain[1]), (12, chain[2]), (13, chain[3]),
            (20, "totally unrelated content about something else entirely "
                 "with its own vocabulary and nothing shared at all here")]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}))
    from learnedspatial_spark.operators import dedup
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_md5_pairs(docs, threshold=0.5, bands=32).collect()}
    out = {r["doc_id"]: r["cluster_id"] for r in
           dedup.neardup_clusters(docs, threshold=0.5, bands=32).collect()}
    assert len(out) == 5
    # ends of the chain must NOT be a direct pair (else the test is vacuous)
    assert (10, 13) not in pairs
    # but consecutive edits must chain 10..13 into one component
    assert (10, 11) in pairs and (11, 12) in pairs and (12, 13) in pairs
    assert out[10] == out[11] == out[12] == out[13] == 10
    assert out[20] == 20


def test_connected_components_long_path_and_random(spark):
    """Drive the label-propagation kernel directly with constructed edge
    sets: a 24-node path with SHUFFLED ids (the min sits mid-path, so the
    label must propagate ~12 hops — multiple pointer-jumping rounds, the
    regime the end-to-end 4-chain test never reaches), plus a seeded
    random graph cross-checked against a Python union-find."""
    import random
    import pandas as pd
    from learnedspatial_spark.operators import dedup

    def uf_labels(edges):
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {x: find(x) for x in parent}

    def check(edges):
        pdf = pd.DataFrame({"doc_a": [e[0] for e in edges],
                            "doc_b": [e[1] for e in edges]})
        got = {r["doc_id"]: r["lbl"] for r in
               dedup.connected_components(spark.createDataFrame(pdf)).collect()}
        assert got == uf_labels(edges)

    rng = random.Random(1234)
    ids = list(range(100, 124))
    rng.shuffle(ids)
    check([(ids[i], ids[i + 1]) for i in range(len(ids) - 1)])

    nodes = rng.sample(range(1000), 60)
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(45)]
    check(edges)


def test_simhash_hamming(spark):
    from learnedspatial_spark.operators import dedup
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy cat"),
         (2, "zzz completely unrelated content qqq xyzzy")],
        "doc_id bigint, text string")
    sim = {r["doc_id"]: (r["sim_lo"], r["sim_hi"])
           for r in dedup.simhash_md5_table(docs).collect()}

    def hamming(i, j):
        return sum(bin(x ^ y).count("1") for x, y in zip(sim[i], sim[j]))
    d_ab = hamming(0, 1)
    d_ac = hamming(0, 2)
    assert d_ab < d_ac


def test_rolling_fp_numpy_twin(spark):
    """Three-way fingerprint agreement: the Spark higher-order fold must
    equal the NumPy kernel (the DuckDB twin is checked in test_entry)."""
    from learnedspatial_spark.functions import text as tx
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    got = {r["doc_id"]: r["fp"] for r in docs.selectExpr(
        "doc_id", f"{tx.rolling_fingerprint_spark_expr('text')} AS fp").collect()}
    pdf = docs.select("doc_id", "text").toPandas()
    want = dict(zip(pdf["doc_id"].tolist(), (int(v) for v in tx.rolling_hash_np(pdf["text"]))))
    assert got == want


def test_embedding_neardup_lsh_bucketed_subset(spark):
    """The graded bucketed near-dup path: (a) its plan joins on bucket —
    never a corpus x corpus nested-loop join; (b) its pairs are a subset of
    the exact all-pairs baseline (recall < 1 by design, precision 1)."""
    import io
    from contextlib import redirect_stdout

    from learnedspatial_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bucketed = similarity.embedding_neardup_lsh(emb, threshold=0.35)
    buf = io.StringIO()
    with redirect_stdout(buf):
        bucketed.explain("formatted")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()
    s_b = {(r["vec_id_a"], r["vec_id_b"]) for r in bucketed.collect()}
    s_all = {(r["vec_id_a"], r["vec_id_b"])
             for r in similarity.embedding_neardup_pairs(emb, threshold=0.35).collect()}
    assert s_b and s_b <= s_all


def test_multimodal_codecs_roundtrip():
    """Real decoders: BMP, WAV, and uncompressed-AVI byte-level round
    trips, plus the AVI closed-form byte size the oracle renders."""
    import numpy as np

    from learnedspatial_spark.operators import multimodal as mm
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(px)), px)
    small = mm.resample_nearest(px, 5, 4)
    assert small.shape == (4, 5, 3)
    samples = rng.integers(-30000, 30000, size=333).astype(np.int16)
    got, rate = mm.decode_wav(mm.encode_wav(samples, 8000))
    assert rate == 8000 and np.array_equal(got, samples)
    # AVI: random frames round-trip exactly; size matches the closed form
    for n, w, h in [(1, 1, 1), (3, 17, 13), (4, 16, 12), (2, 21, 9)]:
        fr = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        payload = mm.encode_avi(fr, fps=4)
        assert len(payload) == mm.avi_size_bytes(n, w, h), (n, w, h)
        got_fr, got_fps = mm.decode_avi(payload)
        assert got_fps == 4 and np.array_equal(got_fr, fr)
    # the compressed-chunk stub point raises, as documented
    compressed = bytearray(mm.encode_avi(fr, fps=4))
    i = bytes(compressed).find(b"00db")
    compressed[i:i + 4] = b"00dc"
    with pytest.raises(NotImplementedError):
        mm.decode_avi(bytes(compressed))

    # top-down DIB streams (negative biHeight — real encoders emit them):
    # rebuild the same video with rows stored in display order and the
    # strf height negated; decode must honor the sign, not mirror frames
    import struct
    n, h, w = fr.shape[0], fr.shape[1], fr.shape[2]
    td = bytearray(mm.encode_avi(fr, fps=4))
    strf_body = bytes(td).find(b"strf") + 8
    struct.pack_into("<i", td, strf_body + 8, -h)  # biHeight field
    row_bytes = (w * 3 + 3) // 4 * 4
    movi = bytes(td).find(b"movi")
    for f in range(n):
        at = movi + 4 + f * (8 + row_bytes * h) + 8
        dib = np.frombuffer(bytes(td[at:at + row_bytes * h]),
                            dtype=np.uint8).reshape(h, row_bytes)
        td[at:at + row_bytes * h] = dib[::-1].tobytes()  # bottom-up -> top-down
    got_td, _ = mm.decode_avi(bytes(td))
    assert np.array_equal(got_td, fr)


def test_multimodal_real_decode_features(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from learnedspatial_spark.operators import multimodal
    media = multimodal.attach_fake_media(docs)
    rows = multimodal.extract_features(media).collect()
    assert len(rows) == docs.count()
    for r in rows:
        did = r["doc_id"]
        if r["media_type"] == "image/bmp":
            # decoded dims + mean must equal the closed-form parameters
            assert r["width"] == did % 64 + 1 and r["height"] == did % 48 + 1
            assert r["mean_v"] == (did % 256 + did * 7 % 256 + did * 13 % 256) / 3.0
        elif r["media_type"] == "audio/wav":
            assert r["width"] == did % 100 + 1 and r["height"] == 8000
            assert r["mean_v"] == float(did % 20000 - 10000)
        elif r["media_type"] == "video/avi":
            # real demux+decode: dims and the exact whole-video mean
            assert r["width"] == did % 8 + 16 and r["height"] == did % 6 + 12
            n = did % 4 + 1
            s = sum((did + 11 * f) % 256 + (did * 7 + 23 * f) % 256
                    + (did * 13 + 37 * f) % 256 for f in range(n))
            assert r["mean_v"] == s / (3.0 * n)
            assert r["n_bytes"] == multimodal.avi_size_bytes(
                n, did % 8 + 16, did % 6 + 12)
        else:  # honest stub: compressed video has no decoder
            assert r["media_type"] == "video/mp4" and did % 12 == 2
            assert (r["width"], r["height"], r["mean_v"]) == (-1, -1, -1.0)
    # deterministic across runs
    rows2 = multimodal.extract_features(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    frames = multimodal.frame_sample_plan(media).groupBy("doc_id").count().collect()
    assert len(frames) > 0
    # per-frame decoded features: every AVI frame's closed-form solid color
    ff = multimodal.video_frame_features(media).collect()
    n_avi_docs = sum(1 for r in rows if r["media_type"] == "video/avi")
    assert {r["doc_id"] for r in ff} == {
        r["doc_id"] for r in rows if r["media_type"] == "video/avi"}
    assert len(ff) == sum(r["doc_id"] % 4 + 1 for r in rows
                          if r["media_type"] == "video/avi") and n_avi_docs > 0
    for r in ff:
        did, f = r["doc_id"], r["frame_idx"]
        s = ((did + 11 * f) % 256 + (did * 7 + 23 * f) % 256
             + (did * 13 + 37 * f) % 256)
        assert r["mean_v"] == s / 3.0 and r["frame_ts_ms"] == f * 250


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from learnedspatial_spark.operators import similarity
    q = similarity.query_vectors(spark, "/root/testdata/sf0.001", n=4)
    exact = similarity.brute_cosine_topk(emb, q, k=5).collect()
    approx = similarity.lsh_bucket_topk(emb, q, k=5, n_planes=4).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # every query's own vector must be found (cos=1 in its own bucket)
    for qid in {r["query_id"] for r in exact}:
        assert (qid, qid) in approx_set
    # nonzero overlap overall
    assert len(exact_set & approx_set) >= 4


def test_ivf_ann_recall(spark):
    from learnedspatial_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = similarity.query_vectors(spark, "/root/testdata/sf0.001", n=4)
    exact = similarity.brute_cosine_topk(emb, q, k=5).collect()
    approx = similarity.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # each query's own vector lands in its nearest list (cos=1) -> found
    for qid in {r["query_id"] for r in exact}:
        assert (qid, qid) in approx_set
    # recall floor: at least half the exact top-k overall
    assert len(exact_set & approx_set) >= len(exact_set) // 2


def test_embedding_neardup_pairs_symmetric_threshold(spark):
    from learnedspatial_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.35).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["vec_id_a"] < r["vec_id_b"]
    # monotone: tightening the threshold can only shrink the pair set
    tight = similarity.embedding_neardup_pairs(emb, threshold=0.45).collect()
    s0 = {(r["vec_id_a"], r["vec_id_b"]) for r in pairs}
    s1 = {(r["vec_id_a"], r["vec_id_b"]) for r in tight}
    assert s1 <= s0


def test_multimodal_resize_dims_and_determinism(spark):
    import numpy as np

    from learnedspatial_spark.operators import multimodal
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = multimodal.attach_fake_media(docs)
    rows = multimodal.resize_images(media, max_dim=20).collect()
    assert len(rows) > 0
    for r in rows:
        # aspect-preserving, never upscaled, longest side <= 20
        assert 1 <= r["out_w"] <= min(r["width"], 20)
        assert 1 <= r["out_h"] <= min(r["height"], 20)
        assert max(r["out_w"], r["out_h"]) <= 20
        # the resized payload is a REAL BMP at the target dims, and a
        # nearest-neighbor resample of a solid color keeps the color
        px = multimodal.decode_bmp(bytes(r["resized"]))
        assert px.shape == (r["out_h"], r["out_w"], 3)
        did = r["doc_id"]
        assert np.array_equal(px[0, 0], [did % 256, did * 7 % 256, did * 13 % 256])
        assert (px == px[0, 0]).all()
    rows2 = multimodal.resize_images(media, max_dim=20).collect()
    assert {r["doc_id"]: bytes(r["resized"]) for r in rows} == \
           {r["doc_id"]: bytes(r["resized"]) for r in rows2}


def _py_simhash(t: str, ngram: int = 3) -> tuple[int, int]:
    """Single reference implementation of the md5 simhash (shared by the
    unit, fuzz, and big-doc tests so the asserted semantics cannot
    drift): per-shingle md5, per-bit majority over hex-digit weights."""
    import hashlib

    import numpy as np
    n = max(len(t) - (ngram - 1), 1)
    digs = [hashlib.md5(t[p:p + ngram].encode("utf-8")).hexdigest() for p in range(n)]
    chars = np.array([[int(h[c], 16) for c in range(16)] for h in digs], dtype=np.int64)
    lo = hi = 0
    for j in range(64):
        bits = (chars[:, j // 4] >> (3 - j % 4)) & 1
        if 2 * int(bits.sum()) > n:
            if j < 32:
                lo |= 1 << j
            else:
                hi |= 1 << (j - 32)
    return lo, hi


def test_simhash_md5_lane_packing_matches_python(spark):
    """Python md5 simhash reference vs the lane-packed Spark aggregation —
    guards the packed-position arithmetic (digest bit -> half/lane/shift)
    independently of the DuckDB twin."""
    from learnedspatial_spark.operators import dedup

    texts = ["abcabcabc", "hello world!", "ñöç unicode ábc",
             "aaa", "xyzzy qwerty 123456", "a"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {r["doc_id"]: (r["sim_lo"], r["sim_hi"])
           for r in dedup.simhash_md5_table(docs, ngram=3).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_simhash(t), (i, t)


def test_simhash_big_document_no_lane_overflow(spark):
    """A 140k-char document (~2^17 shingles) exceeds the int64 headroom of
    naive un-shifted mask sums (top lane at bit 47 would overflow at
    ~131k shingles, an ANSI SparkArithmeticException) — the shifted
    lane-packing must stay exact far past it."""
    import numpy as np

    from learnedspatial_spark.operators import dedup

    rng = np.random.default_rng(11)
    t = "".join(rng.choice(list("abcdefgh 0123.!"), size=140_000))
    docs = spark.createDataFrame([(0, t)], "doc_id bigint, text string")
    row = dedup.simhash_md5_table(docs, ngram=3).collect()[0]
    assert (row["sim_lo"], row["sim_hi"]) == _py_simhash(t)


def test_bpe_token_pattern_dialect_parity(spark):
    """Java regex (Spark) vs RE2 (DuckDB) must tokenize identically on
    adversarial inputs: contractions, digit/letter runs, unicode (counts
    as punct-run by design), tabs/newlines, apostrophes, empty-ish."""
    import duckdb

    from learnedspatial_spark.functions import text as tx
    cases = ["it's don't we're I'll they've I'm he'd",
             "abc123def  45.6e7",
             "ñöç üñîçødé mixed ascii",
             "a\tb\nc   d", "'''", "x", " ", "--=++ !!?", "word's"]
    df = spark.createDataFrame(list(enumerate(cases)), "i bigint, t string")
    got = {r["i"]: r["n"] for r in df.selectExpr(
        "i", f"cast({tx.token_count_bpe_spark_sql('t')} as bigint) AS n").collect()}
    con = duckdb.connect()
    for i, t in enumerate(cases):
        want = con.sql("SELECT cast(" + tx.token_count_bpe_duckdb_sql("?::varchar")
                       .replace("?::varchar", "$t::varchar") + " as bigint)",
                       params={"t": t}).fetchone()[0]
        assert got[i] == want, (i, t, got[i], want)
    con.close()


def test_bpe_and_simhash_fuzz_parity(spark):
    """Seeded random-text fuzz: 150 strings over a mixed alphabet
    (ascii letters, digits, punct, unicode, tabs/newlines, apostrophes) —
    BPE token counts must agree Spark vs DuckDB, and lane-packed simhash
    must agree with the pure-Python md5 reference."""
    import duckdb
    import numpy as np

    from learnedspatial_spark.functions import text as tx
    from learnedspatial_spark.operators import dedup

    rng = np.random.default_rng(4242)
    alphabet = list("abcXYZ 019.,!?'-\t\n") + ["ñ", "ü", "中", "€"]
    texts = ["".join(rng.choice(alphabet, size=rng.integers(1, 80)))
             for _ in range(150)]
    df = spark.createDataFrame(list(enumerate(texts)), "i bigint, t string")

    got_bpe = {r["i"]: r["n"] for r in df.selectExpr(
        "i", f"cast({tx.token_count_bpe_spark_sql('t')} as bigint) AS n").collect()}
    con = duckdb.connect()
    con.register("fuzz", __import__("pandas").DataFrame({"i": range(len(texts)), "t": texts}))
    want_bpe = dict(con.sql(
        f"SELECT i, cast({tx.token_count_bpe_duckdb_sql('t')} as bigint) FROM fuzz").fetchall())
    con.close()
    assert got_bpe == want_bpe

    sim = {r["doc_id"]: (r["sim_lo"], r["sim_hi"]) for r in dedup.simhash_md5_table(
        df.selectExpr("i AS doc_id", "t AS text"), ngram=3).collect()}
    for i, t in enumerate(texts):
        assert sim[i] == _py_simhash(t), (i, t)


def test_zero_norm_embedding_never_matches_or_ranks(spark):
    """A zero embedding has no direction: cosine would be 0/0 = NaN, and
    NaN sorts GREATER than every number in both Spark and DuckDB — without
    the guard the zero vector tops every top-k and passes every threshold,
    invisibly to the oracle gate (same NaN order both sides).  Guarded, it
    must never pair and must rank LAST."""
    from learnedspatial_spark.operators import similarity
    import pandas as pd
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3],
        "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 0.0]],
    }))
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.5).collect()
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in pairs}
    assert got == {(1, 2)}          # the zero vector pairs with nothing
    q = emb.where("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    top = similarity.brute_cosine_topk(emb, q, k=3).orderBy("rnk").collect()
    assert [r["vec_id"] for r in top] == [1, 2, 3]   # zero vector ranks LAST


def test_all_pairs_twins_guarded_at_scale(spark):
    """The deliberately-all-pairs validation twins must refuse a corpus
    above ALL_PAIRS_MAX_ROWS (the cross join would be O(n^2) at production
    scale) unless the caller forces; the graded small-scale entries and
    force=True stay functional."""
    from learnedspatial_spark.operators import similarity
    big = spark.range(similarity.ALL_PAIRS_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id bigint, qvec array<double>")
    with pytest.raises(ValueError, match="ALL-PAIRS"):
        similarity.embedding_neardup_pairs(big, threshold=0.9)
    with pytest.raises(ValueError, match="ALL-PAIRS"):
        similarity.brute_cosine_topk(big, q, k=1)
    # force=True overrides (plan construction only — don't execute the join)
    similarity.embedding_neardup_pairs(big, threshold=0.9, force=True)
    similarity.brute_cosine_topk(big, q, k=1, force=True)
    # under the ceiling: untouched
    small = big.limit(5)
    assert similarity.brute_cosine_topk(small, q, k=1).count() == 1


def test_guard_all_pairs_caches_passing_input(spark):
    """ADVICE r4: the guard probe is one extra job over the upstream plan;
    a passing input must come back persisted so the probe's work is reused
    by the cross join instead of re-executing the upstream pipeline."""
    from learnedspatial_spark.operators import similarity
    df = spark.range(10).select(F.col("id").alias("vec_id"))
    out = similarity._guard_all_pairs(df, "test", force=False)
    assert out.storageLevel.useMemory or out.storageLevel.useDisk
    out.unpersist()
    # force=True skips probe AND cache
    out2 = similarity._guard_all_pairs(df, "test", force=True)
    assert not (out2.storageLevel.useMemory or out2.storageLevel.useDisk)
