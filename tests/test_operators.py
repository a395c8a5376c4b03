"""Operator-level tests: dedup, similarity, text stats, multimodal,
streaming — semantics and plan-shape checks."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


def test_exact_dedup_removes_injected_dups(spark, docs):
    from go_htmldate_spark.operators.dedup import exact_dedup

    d = docs.select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dup)
    deduped = exact_dedup(corpus)
    assert deduped.count() == d.count()
    # survivor is always the lowest id
    assert deduped.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_detects_identical_docs(spark, docs):
    from go_htmldate_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = docs.select("doc_id", "text").limit(50)
    dup = d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    sigs = minhash_signatures(d.unionByName(dup), n_hashes=32).cache()
    # identical docs get identical signatures ...
    by_id = {r["doc_id"]: r["minhash"] for r in sigs.collect()}
    originals = [i for i in by_id if i < 10_000]
    assert len(originals) == 50
    assert all(by_id[i] == by_id[i + 10_000] for i in originals)
    # ... so every identical pair surfaces as a candidate
    pairs = lsh_candidate_pairs(sigs, bands=8)
    perfect = {
        (r["a"], r["b"])
        for r in pairs.filter(F.col("b") - F.col("a") == 10_000).collect()
    }
    assert len(perfect) == 50


def test_incremental_dedup_probes_corpus_index(spark, docs):
    from go_htmldate_spark.operators.dedup import (
        incremental_dedup, minhash_signatures,
    )

    d = docs.select("doc_id", "text").limit(50)
    corpus_sigs = minhash_signatures(d, n_hashes=32).cache()
    # new batch: 10 exact copies + 5 genuinely new texts
    copies = d.limit(10).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    fresh = spark.createDataFrame(
        [(20_000 + i,
          f"entirely novel zz{i} document qq{i} with no corpus overlap")
         for i in range(5)],
        ["doc_id", "text"],
    )
    new_sigs = minhash_signatures(copies.unionByName(fresh), n_hashes=32)
    out = incremental_dedup(corpus_sigs, new_sigs, bands=8, threshold=0.9)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 15  # every new doc gets a row
    # copies match their original with estimated jaccard 1.0
    copy = [v for k, v in rows.items()
            if 10_000 <= k < 20_000 and v["dup_of"] == k - 10_000]
    assert len(copy) == 10
    assert all(v["est_jaccard"] == 1.0 and v["is_dup"] for v in copy)
    novel = [v for k, v in rows.items() if k >= 20_000]
    assert all(not v["is_dup"] for v in novel)


def test_simhash_identical_docs_collide(spark, docs):
    from go_htmldate_spark.operators.dedup import simhash

    d = docs.select("doc_id", "text").limit(30)
    dup = d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    sh = simhash(d.unionByName(dup))
    groups = sh.groupBy("simhash").count().filter(F.col("count") >= 2)
    assert groups.count() >= 30


def test_brute_force_topk_self_similarity(spark):
    from go_htmldate_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 3).select("embedding").head()[0]
    top = brute_force_topk(emb, list(q), k=5).collect()
    assert top[0]["vec_id"] == 3  # self is the nearest neighbor
    assert abs(top[0]["cosine"] - 1.0) < 1e-6
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_recall_and_assignment(spark):
    from go_htmldate_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").head()[0])
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    top = ivf_topk(emb, query_id=3, k=10, n_centroids=16, nprobe=4).collect()
    aset = {r["vec_id"] for r in top}
    assert 3 in aset  # the query's own cluster is always probed
    assert len(exact & aset) >= 7  # nprobe=4/16 keeps most true neighbors
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)

    asg = ivf_assign(emb, n_centroids=16)
    rows = asg.collect()
    assert len(rows) == emb.count()  # total assignment, one cluster each
    assert {r["cluster"] for r in rows} <= set(range(16))
    # each centroid seed vector belongs to its own cluster (cosine=1)
    own = {r["vec_id"]: r["cluster"] for r in rows if r["vec_id"] < 16}
    assert own == {i: i for i in range(16)}


def test_ivf_codebook_survives_sparse_offset_ids(spark):
    """Centroid selection is order-by-id + limit, so an id space that is
    sparse or doesn't start at 0 still yields a full n_centroids
    codebook (previously `id < n_centroids` silently produced a short or
    empty one)."""
    from go_htmldate_spark.operators.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # offset + sparsify: ids become 1M + 7*vec_id — none below n_centroids
    off = emb.select(
        (F.col("vec_id") * 7 + 1_000_000).alias("vec_id"), "embedding"
    ).cache()
    asg = ivf_assign(off, n_centroids=16)
    rows = asg.collect()
    assert len(rows) == off.count()
    assert len({r["cluster"] for r in rows}) == 16  # full codebook
    qid = 1_000_000 + 7 * 3
    top = ivf_topk(off, query_id=qid, k=5, n_centroids=16, nprobe=4).collect()
    assert top and top[0]["vec_id"] == qid and top[0]["cosine"] == 1.0


def test_text_stats_schema_and_ranges(spark, docs):
    from go_htmldate_spark.operators.textstats import with_text_stats

    out = with_text_stats(docs).cache()
    row = out.agg(
        F.min("punct_ratio"), F.max("punct_ratio"),
        F.min("quality"), F.max("quality"), F.min("n_tokens"),
    ).head()
    assert 0.0 <= row[0] <= row[1] <= 1.0
    assert 0.0 <= row[2] <= row[3] <= 1.0
    assert row[4] >= 0
    langs = {r["lang_pred"] for r in out.select("lang_pred").distinct().collect()}
    assert langs <= {"en", "de", "fr", "tr", "id", "unknown"}


def test_multimodal_plumbing(spark):
    from go_htmldate_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        synth_media,
    )

    media = synth_media(spark, 60, seed=42).cache()
    feats = extract_features(media).cache()
    assert feats.count() == 60
    ok = feats.filter(F.col("decode_ok") == "ok")
    assert ok.count() == 60  # deterministic fake decode always succeeds
    assert ok.select("feat_dim").distinct().head()[0] == 8
    # deterministic: same payload → same feature
    a = {r["media_id"]: r["feature"] for r in feats.collect()}
    b = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert a == b
    frames = frame_sample_plan(media, every_ms=60_000)
    assert frames.count() > 0


def test_stdlib_codec_roundtrip():
    """Pure-codec law: every encoder output decodes back to the
    closed-form statistics the media_stats oracle re-derives."""
    from go_htmldate_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
        sniff_media,
    )

    for i in (0, 1, 5, 77, 255, 1234):
        w, h = 4 + i % 5, 3 + i % 4
        r, gb, b = i % 256, (i * 7) % 200, (i * 13) % 256
        n = w * h
        exp = {
            "width": w, "height": h,
            "sum_c0": n * r, "sum_c1": n * gb + n * (n - 1) // 2,
            "sum_c2": n * b,
            "v_min": min(r, gb, b), "v_max": max(r, gb + n - 1, b),
        }
        for enc, dec, name in (
            (encode_bmp, decode_bmp, "bmp"),
            (encode_ppm, decode_ppm, "ppm"),
        ):
            payload = enc(w, h, r, gb, b)
            assert sniff_media(payload) == name
            assert dec(payload) == exp, (name, i)
        ns, base = 64 + i % 64, (i * 11) % 1000 - 500
        payload = encode_wav(ns, 16000, base)
        assert sniff_media(payload) == "wav"
        assert decode_wav(payload) == {
            "n_samples": ns, "sample_rate": 16000, "n_channels": 1,
            "sum_c0": ns * base + ns * (ns - 1) // 2,
            "v_min": base, "v_max": base + ns - 1,
        }


def test_stdlib_codec_variants_and_errors():
    """Top-down BMPs decode identically; malformed payloads raise
    (degraded to decode_ok='error:...' by the operator, never a crash);
    PPM headers tolerate comments."""
    import struct as S

    from go_htmldate_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_bmp,
    )

    p = bytearray(encode_bmp(4, 3, 9, 10, 11))
    height, width = 3, 4
    stride = width * 3 + ((-(width * 3)) % 4)
    off = S.unpack_from("<I", p, 10)[0]
    rows = [bytes(p[off + k * stride : off + (k + 1) * stride]) for k in range(height)]
    p2 = bytearray(bytes(p[:off]) + b"".join(reversed(rows)))
    S.pack_into("<i", p2, 22, -height)
    assert decode_bmp(bytes(p2)) == decode_bmp(bytes(p))

    with pytest.raises(ValueError):
        decode_bmp(b"BMxx")
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n4 4\n255\n\x00")  # truncated raster
    assert decode_ppm(b"P6\n# a comment\n1 1\n255\n\x05\x06\x07") == {
        "width": 1, "height": 1, "sum_c0": 5, "sum_c1": 6, "sum_c2": 7,
        "v_min": 5, "v_max": 7,
    }


def test_extract_features_real_decode(spark):
    """extract_features routes stdlib-decodable payloads through the
    REAL decoders: the feature encodes actual pixel/sample statistics,
    and unknown containers keep the deterministic hash fake."""
    import struct as S

    from go_htmldate_spark.operators.multimodal import (
        extract_features,
        extract_media_stats,
        synth_media_stdlib,
    )

    media = synth_media_stdlib(spark, 30).cache()
    stats = {r["media_id"]: r for r in extract_media_stats(media).collect()}
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert set(stats) == set(range(30))
    for i, st in stats.items():
        assert st["decode_ok"] == "ok"
        f = S.unpack("8f", bytes.fromhex(feats[i]["feature"]))
        if st["codec"] in ("bmp", "ppm"):
            n = st["width"] * st["height"]
            assert f[0] * 4096.0 == pytest.approx(st["width"])
            assert f[2] * 255.0 * n == pytest.approx(st["sum_c0"], abs=1e-3)
            assert f[7] == 1.0
        else:
            assert f[1] * 1e6 == pytest.approx(st["sample_rate"])
            assert f[7] == 2.0
    media.unpersist()


# -- batch ANN self-join + simhash Hamming-radius probing -------------------

def test_ann_selfjoin_recall_vs_bruteforce(spark):
    """LSH self-join must recover every pair brute force finds at the
    threshold (planted exact dups ⇒ identical signatures in all tables)."""
    import pyspark.sql.functions as F

    from go_htmldate_spark.operators.similarity import ann_selfjoin_pairs, cosine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dup)

    got = {
        (r.a, r.b)
        for r in ann_selfjoin_pairs(
            corpus, dim=64, min_cosine=0.9, n_planes=8, n_tables=8
        ).collect()
    }
    va = corpus.select(F.col("vec_id").alias("a"), F.col("embedding").cast("array<double>").alias("va"))
    vb = corpus.select(F.col("vec_id").alias("b"), F.col("embedding").cast("array<double>").alias("vb"))
    brute = {
        (r.a, r.b)
        for r in va.join(vb, F.col("a") < F.col("b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= 0.9)
        .select("a", "b")
        .collect()
    }
    assert brute, "planted dups must exist"
    assert got == brute


def test_simhash_near_pairs_finds_small_edits(spark):
    """Texts differing by a few tokens land within the Hamming radius and
    must surface as pairs; the pair set equals a brute-force bit_count
    check (pigeonhole banding is lossless within the radius)."""
    import pyspark.sql.functions as F

    from go_htmldate_spark.operators.dedup import simhash, simhash_near_pairs

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(1, base), (2, base.replace("lazy", "sleepy", 1)),
            (3, base.replace("quick", "rapid", 1).replace("dog", "cat", 1)),
            (4, "completely different text about spark shuffle partitions " * 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b): r.hamming
        for r in simhash_near_pairs(df, radius=7, n_bits=64).collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    def ham(x, y):
        return bin((sigs[x] ^ sigs[y]) & ((1 << 64) - 1)).count("1")
    brute = {
        (a, b): ham(a, b)
        for a in sigs for b in sigs if a < b and ham(a, b) <= 7
    }
    assert (1, 2) in brute  # one-token edit is a near-dup
    assert got == brute


def test_connected_components_chains(spark):
    from go_htmldate_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "a long, b long"
    )
    got = {(r.id, r.comp) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20), (23, 20)}


def test_simhash_swar_equals_per_bit_fold(spark):
    """The SWAR lane-packed simhash must produce bit-identical signatures
    to the straightforward per-bit fold over the same xxhash64 stream."""
    import pyspark.sql.functions as F

    from go_htmldate_spark.operators.dedup import simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    swar = {r.doc_id: r.simhash for r in simhash(docs).collect()}

    # reference: the per-bit fold (the md5-family code path) applied to
    # xxhash64 token hashes
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    with_hashes = docs.select(
        "doc_id", F.transform(F.split(norm, " "), lambda t: F.xxhash64(t)).alias("_hashes")
    )
    fold = F.expr(
        """
        aggregate(
          transform(sequence(0, 63), b ->
            CASE WHEN aggregate(_hashes, 0,
                   (acc, h) -> acc + CASE WHEN shiftright(h, b) & 1 = 1
                                     THEN 1 ELSE -1 END) > 0
                 THEN shiftleft(1L, b) ELSE 0L END),
          0L, (acc, x) -> acc | x)
        """
    )
    ref = {r.doc_id: r.sh for r in with_hashes.select("doc_id", fold.alias("sh")).collect()}
    assert swar == ref


def test_connected_components_long_chain_log_convergence(spark, tmp_path):
    """Pointer jumping: a 300-node path graph (diameter 300) must
    converge exactly within the default 25 sweeps (O(log d), not O(d)),
    with reliable checkpointing enabled, and warn when sweeps run out."""
    import warnings

    from go_htmldate_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "a long, b long"
    )
    sc = spark.sparkContext
    old_dir = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # any RuntimeWarning fails
            got = {
                (r.id, r.comp)
                for r in connected_components(pairs).collect()
            }
        assert got == {(i, 0) for i in range(301)}

        # exhausting max_iter must warn, not silently under-deduplicate
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            connected_components(pairs, max_iter=2).collect()
        assert any("not converged" in str(x.message) for x in w)
    finally:
        if old_dir is None:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )
        else:
            sc.setCheckpointDir(old_dir)


# -- watermarked event-time windowed aggregation ----------------------------

_RATE_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _rate_pages(spark, rows):
    """rows: [(url, ts)] → crawl-record pages frame."""
    import datetime as dt

    data = [
        (url, dt.datetime(2021, 5, 10, h, m), b"", "", "en")
        for url, (h, m) in rows
    ]
    return spark.createDataFrame(data, _RATE_PAGES_SCHEMA)


def test_host_rates_watermark_late_data(spark, tmp_path_factory):
    """host_fetch_rates over an append-mode file-source stream, one file
    per micro-batch: closed windows emit exactly once, sub-watermark late
    rows are dropped, open-window late rows are folded in."""
    from go_htmldate_spark.operators.extract import host_fetch_rates

    base = tmp_path_factory.mktemp("rates")
    in_dir, cp, out = str(base / "in"), str(base / "cp"), str(base / "out")
    u = "https://a.example/2021/05/10/p{}.html".format

    def emitted():
        try:
            return {
                (r["win_start"].minute + 60 * r["win_start"].hour):
                    r["n_fetched"]
                for r in spark.read.parquet(out).collect()
            }
        except Exception:  # no files yet: nothing emitted
            return {}

    # Single-file micro-batches in one availableNow run. Batch N executes
    # under the watermark computed from batch N-1's event times (one-batch
    # lag), so the sub-watermark late row rides two files behind its
    # watermark-advancer:
    #   b1 (exec wm epoch-0): opens [00:00) n=2, [00:10), [01:00);
    #       post-batch wm = 01:00 - 20min = 00:40
    #   b2 (exec wm 00:40): [00:00) and [00:10) emit; post-wm unchanged
    #   b3 (exec wm 00:40): ts 00:02 is sub-watermark -> DROPPED ([00:00)
    #       already emitted n=2 and is never revised); ts 01:05 folds into
    #       the still-open [01:00); ts 02:30 pushes post-wm to 02:10
    #   final no-data batch (exec wm 02:10): [01:00) emits with BOTH its
    #       rows, [01:20) emits; [02:30) stays open forever
    import time as _time

    _rate_pages(spark, [
        (u(1), (0, 0)), (u(2), (0, 5)), (u(3), (0, 15)), (u(4), (1, 0)),
    ]).coalesce(1).write.mode("append").parquet(in_dir)
    _time.sleep(1.1)  # mtime-orders the file-source batches
    _rate_pages(spark, [(u(5), (1, 20))]).coalesce(1).write.mode(
        "append").parquet(in_dir)
    _time.sleep(1.1)
    _rate_pages(spark, [
        (u(6), (0, 2)), (u(7), (1, 5)), (u(8), (2, 30)),
    ]).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(_RATE_PAGES_SCHEMA).format("parquet")
        .option("maxFilesPerTrigger", 1).load(in_dir)
    )
    (
        host_fetch_rates(stream).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").trigger(availableNow=True).start()
    ).awaitTermination(180)
    assert emitted() == {0: 2, 10: 1, 60: 2, 80: 1}
    rows = spark.read.parquet(out).collect()
    assert all(r["host"] == "a.example" for r in rows)
    assert sum(r["n_dated"] for r in rows) == 6  # every kept row has a URL date


def test_host_rates_batch_equals_stream_shape(spark):
    """host_fetch_rates on a batch frame: same columns, one hash
    exchange (the window×host groupBy)."""
    from go_htmldate_spark.operators.extract import host_fetch_rates

    pages = _rate_pages(spark, [
        ("https://a.example/2021/05/10/p1.html", (0, 0)),
        ("https://b.example/2021/05/11/p2.html", (0, 5)),
    ])
    out = host_fetch_rates(pages)
    assert out.columns == ["win_start", "win_end", "host", "n_fetched", "n_dated"]
    rows = out.collect()
    assert {r["host"] for r in rows} == {"a.example", "b.example"}
    assert all(r["n_fetched"] == 1 and r["n_dated"] == 1 for r in rows)


def test_gopher_repetition_flags_repetitive_docs(spark):
    from go_htmldate_spark.operators.textstats import gopher_repetition

    df = spark.createDataFrame(
        [
            (0, "buy now " * 200),                       # one bigram dominates
            (1, " ".join(f"w{i}" for i in range(300))),  # all-unique words
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    assert rows[0]["top_2gram_frac"] > 0.4 and not rows[0]["gopher_ok"]
    assert rows[1]["gopher_ok"] and rows[1]["dup_word_frac"] == 0.0


def test_stratified_sample_is_map_only_and_deterministic(spark):
    from go_htmldate_spark.operators.curation import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = {"en": 1.0, "de": 0.5, "fr": 0.0}
    s = stratified_sample(docs, "lang", fr, "doc_id", seed=3)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0  # pure scan+filter
    a = sorted(r["doc_id"] for r in s.collect())
    b = sorted(r["doc_id"] for r in s.collect())
    assert a == b and a  # exactly reproducible
    counts = {r["lang"]: r["count"] for r in s.groupBy("lang").count().collect()}
    orig = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    assert counts.get("en") == orig["en"]          # 100% stratum complete
    assert "fr" not in counts                       # 0% stratum empty
    assert 0 < counts.get("de", 0) < orig["de"]     # partial stratum partial


def test_ngram_contamination(spark):
    from go_htmldate_spark.operators.curation import ngram_contamination

    clean = " ".join(f"c{i}" for i in range(40))
    leaked = " ".join(f"b{i}" for i in range(40))
    half = " ".join(f"b{i}" for i in range(20)) + " " + " ".join(
        f"z{i}" for i in range(20)
    )
    docs = spark.createDataFrame(
        [(0, clean), (1, leaked), (2, half)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(leaked,)], ["text"])
    c = {r["doc_id"]: r for r in ngram_contamination(docs, bench, n=8).collect()}
    assert c[0]["contamination_frac"] == 0.0
    assert c[1]["contamination_frac"] == 1.0
    assert 0.0 < c[2]["contamination_frac"] < 1.0
    # hashed scale path gives identical results on this data
    ch = {r["doc_id"]: r["contamination_frac"]
          for r in ngram_contamination(docs, bench, n=8, hashed=True).collect()}
    assert ch == {k: v["contamination_frac"] for k, v in c.items()}


def test_pipeline_curate_composes_all_stages(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["pipeline_curate"]
    df = q(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    rows = df.collect()
    assert rows and all(r["n_tok"] > 0 for r in rows)
    ids = {r["doc_id"] for r in rows}
    # planted duplicates (+1000000) never survive exact dedup
    assert not any(i >= 1000000 for i in ids)
    # benchmark docs (doc_id % 17 == 0) with >= 8 words are 100%
    # self-contaminated, so decontamination drops them
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    long_bench = {
        r["doc_id"]
        for r in docs.filter("doc_id % 17 = 0")
        .filter("size(split(trim(regexp_replace(text, '\\\\s+', ' ')), ' ')) >= 8")
        .collect()
    }
    assert not (ids & long_bench)


def test_pii_scrub_redacts_and_counts(spark):
    from go_htmldate_spark.operators.curation import pii_scrub

    df = spark.createDataFrame(
        [
            (0, "write to alice.smith+x@mail.example.co or bob@x.io today"),
            (1, "server at 10.0.255.7 then call +44 (0)20 7946-0958 now"),
            (2, "no pii here at all, just words."),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[0]["n_email"] == 2 and "<EMAIL>" in rows[0]["clean_text"]
    assert "alice" not in rows[0]["clean_text"] and "bob@" not in rows[0]["clean_text"]
    assert rows[1]["n_ipv4"] == 1 and rows[1]["n_phone"] == 1
    assert "<IP>" in rows[1]["clean_text"] and "<PHONE>" in rows[1]["clean_text"]
    assert rows[2]["clean_text"] == "no pii here at all, just words."
    assert rows[2]["n_email"] == rows[2]["n_ipv4"] == rows[2]["n_phone"] == 0
    # map-only: zero exchanges
    plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0


def test_pii_scrub_overlap_counts_reconcile(spark):
    """Counts are taken on the progressively-scrubbed text, so an
    overlapping match ('+4912345678@example.de' is both a phone-shaped
    string and an email) is counted exactly once — under the type whose
    token actually appears in clean_text (email scrubs first)."""
    from go_htmldate_spark.operators.curation import pii_scrub

    df = spark.createDataFrame(
        [(0, "reach me at +4912345678@example.de please")],
        ["doc_id", "text"],
    )
    row = pii_scrub(df).collect()[0]
    assert row["n_email"] == 1 and row["n_phone"] == 0 and row["n_ipv4"] == 0
    assert row["clean_text"].count("<EMAIL>") == 1
    assert "<PHONE>" not in row["clean_text"]


def test_c4_heuristics_flags(spark):
    from go_htmldate_spark.operators.curation import c4_heuristics

    df = spark.createDataFrame(
        [
            (0, "This sentence has enough normal words to pass easily."),
            (1, "short one."),                              # < 5 words
            (2, "function foo() { return javascript; }"),   # brace + js
            (3, "Lorem ipsum dolor sit amet consectetur adipiscing."),
            (4, "a b c d e f g h i j"),                     # mean len 1
            (5, "No terminal punctuation in this document at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in c4_heuristics(df).collect()}
    assert rows[0]["c4_ok"]
    assert not rows[1]["c4_ok"] and rows[1]["n_words"] == 2
    assert not rows[2]["c4_ok"] and rows[2]["has_brace"] and rows[2]["has_js"]
    assert not rows[3]["c4_ok"] and rows[3]["has_lorem"]
    assert not rows[4]["c4_ok"] and rows[4]["mean_word_len"] == 1.0
    assert not rows[5]["c4_ok"] and not rows[5]["ends_punct"]


def test_pack_sequences_chunking_semantics(spark):
    from go_htmldate_spark.operators.curation import pack_sequences

    # one shard (n_shards=1): 3 docs of 5/3/4 tokens, seq_len=6
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "f g h"), (2, "i j k l")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, seq_len=6, n_shards=1).collect()}
    # doc 0: offsets 0-4 -> seq 0 only
    assert (rows[0]["start_offset"], rows[0]["start_seq"], rows[0]["end_seq"]) == (0, 0, 0)
    # doc 1: offsets 5-7 -> spans the 6-token boundary (seqs 0 and 1)
    assert (rows[1]["start_offset"], rows[1]["start_seq"], rows[1]["end_seq"]) == (5, 0, 1)
    # doc 2: offsets 8-11 -> seq 1 only
    assert (rows[2]["start_offset"], rows[2]["start_seq"], rows[2]["end_seq"]) == (8, 1, 1)
    # plan: exactly one exchange (hashpartitioning on shard), no
    # single-task global window
    plan = pack_sequences(df, seq_len=6, n_shards=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_lm_score_ranks_reference_like_text_higher(spark):
    from go_htmldate_spark.operators.curation import lm_score

    ref = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat on the rug",),
         ("a cat and a dog sat down",)],
        ["text"],
    )
    docs = spark.createDataFrame(
        [(0, "the cat sat on the rug"),     # in-distribution
         (1, "zq xv qqq zzz vvv kkk")],     # out-of-vocabulary gibberish
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in lm_score(docs, ref).collect()}
    assert rows[0]["avg_logp"] > rows[1]["avg_logp"]
    assert rows[0]["ppl"] < rows[1]["ppl"]
    assert rows[0]["n_bigrams"] == 5
    # a one-token doc has no bigrams and is omitted
    one = spark.createDataFrame([(9, "hello")], ["doc_id", "text"])
    assert lm_score(one, ref).count() == 0


def test_host_datacard_aggregates_and_majority_lang(spark):
    from go_htmldate_spark.operators.curation import host_datacard

    ok_text = "This is a perfectly normal sentence with enough words."
    bad_text = "short {brace}"
    pages = spark.createDataFrame(
        [("https://a.example/1", ok_text, "en"),
         ("https://a.example/2", ok_text, "en"),
         ("https://a.example/3", bad_text, "de"),
         ("https://b.example/1", ok_text, None),      # lang → unknown
         ("not a url", ok_text, "en")],               # no host → dropped
        ["url", "text", "lang"],
    )
    rows = {r["host"]: r for r in host_datacard(pages).collect()}
    assert set(rows) == {"a.example", "b.example"}
    a = rows["a.example"]
    assert a["n_docs"] == 3
    assert a["n_tokens"] == 2 * len(ok_text.split()) + 2
    assert a["pct_c4_ok"] == round(2 / 3, 6)
    assert a["major_lang"] == "en"
    assert a["major_lang_frac"] == round(2 / 3, 6)
    b = rows["b.example"]
    assert (b["n_docs"], b["major_lang"], b["major_lang_frac"]) == \
           (1, "unknown", 1.0)
    assert b["mean_doc_chars"] == float(len(ok_text))
    # majority tie breaks lexicographically: 1 en + 1 de → de
    tie = spark.createDataFrame(
        [("https://t.example/1", ok_text, "en"),
         ("https://t.example/2", ok_text, "de")],
        ["url", "text", "lang"],
    )
    t = host_datacard(tie).collect()[0]
    assert (t["major_lang"], t["major_lang_frac"]) == ("de", 0.5)


def test_snapshot_diff_classifies_all_four_statuses(spark):
    from go_htmldate_spark.plans.snapshots import (
        snapshot_diff, snapshot_diff_stats,
    )

    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3"), ("u5", None)],
        ["url", "content_hash"],
    )
    new = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2x"), ("u4", "h4")],
        ["url", "content_hash"],
    )
    rows = {r["url"]: r["status"]
            for r in snapshot_diff(old, new).collect()}
    # u5 has a NULL hash → not present in the old snapshot at all
    assert rows == {"u1": "unchanged", "u2": "changed",
                    "u3": "removed", "u4": "added"}
    stats = {r["status"]: (r["n_urls"], r["frac"])
             for r in snapshot_diff_stats(snapshot_diff(old, new)).collect()}
    assert stats == {"unchanged": (1, 0.25), "changed": (1, 0.25),
                     "removed": (1, 0.25), "added": (1, 0.25)}


def test_ccnet_buckets_rank_terciles_and_cutoff_path(spark):
    from go_htmldate_spark.operators.curation import ccnet_buckets

    ref = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat on the rug",),
         ("a cat and a dog sat down",)],
        ["text"],
    )
    # 6 en docs spanning in-distribution → gibberish, plus one de doc
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat", "en"),
         (1, "the dog sat on the rug", "en"),
         (2, "a cat and a dog sat down", "en"),
         (3, "the cat sat on zq xv", "en"),
         (4, "zq xv sat on the mat", "en"),
         (5, "zq xv qqq zzz vvv kkk", "en"),
         (6, "der hund sitzt auf dem teppich", "de")],
        ["doc_id", "text", "lang"],
    )
    rows = {r["doc_id"]: r for r in ccnet_buckets(docs, ref).collect()}
    # 6 en docs → exactly 2 per tercile; buckets follow the ppl order
    en = sorted((r["ppl"], r["doc_id"]) for r in rows.values()
                if r["lang"] == "en")
    want = ["head", "head", "middle", "middle", "tail", "tail"]
    assert [rows[d]["bucket"] for _, d in en] == want
    assert rows[0]["bucket"] == "head"      # most reference-like
    assert rows[5]["bucket"] == "tail"      # gibberish
    # a 1-doc language is a complete tercile family of its own: head
    assert rows[6]["bucket"] == "head"

    # cutoff mode: map-only, zero exchanges after the score, and a
    # language absent from the cutoff map stays kept as 'middle'
    cut = ccnet_buckets(docs, ref, cutoffs={"en": (20.0, 200.0)})
    crows = {r["doc_id"]: r for r in cut.collect()}
    for d, r in crows.items():
        if r["lang"] == "de":
            assert r["bucket"] == "middle"
        elif r["ppl"] <= 20.0:
            assert r["bucket"] == "head"
        elif r["ppl"] <= 200.0:
            assert r["bucket"] == "middle"
        else:
            assert r["bucket"] == "tail"
    # rank mode and cutoff mode score identically
    assert {d: r["ppl"] for d, r in rows.items()} == \
           {d: r["ppl"] for d, r in crows.items()}


def test_token_budget_sample_meets_budget_exactly_once(spark):
    from go_htmldate_spark.operators.curation import token_budget_sample

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10)),
          "en" if i % 2 == 0 else "de") for i in range(40)],
        ["doc_id", "text", "lang"],
    )
    out = token_budget_sample(docs, {"en": 55, "de": 25}, seed=3).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # each doc is 10 tokens; budget 55 -> 6 docs (crossing doc included),
    # budget 25 -> 3 docs
    assert len(by_lang["en"]) == 6 and max(r["cum_tok"] for r in by_lang["en"]) == 60
    assert len(by_lang["de"]) == 3 and max(r["cum_tok"] for r in by_lang["de"]) == 30
    # deterministic across reruns
    again = token_budget_sample(docs, {"en": 55, "de": 25}, seed=3).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)
    # different seed -> (almost surely) different pick
    other = token_budget_sample(docs, {"en": 55, "de": 25}, seed=4).collect()
    assert {r["doc_id"] for r in other} != {r["doc_id"] for r in out}


def test_streaming_curation_composes(spark, tmp_path_factory):
    """The stateless curation operators (c4 heuristics, PII scrub,
    stratified sample) are pure row transforms, so they compose
    directly into a Structured Streaming pipeline — same code path
    batch and stream."""
    from go_htmldate_spark.operators.curation import (
        pii_scrub, stratified_sample,
    )

    base = tmp_path_factory.mktemp("stream_cur")
    in_dir, cp, out_dir = str(base / "in"), str(base / "cp"), str(base / "out")
    docs = spark.createDataFrame(
        [(i,
          f"Contact user{i}@mail.example.org about doc number {i} today."
          if i % 3 == 0 else
          f"This is perfectly ordinary document number {i} with words.",
          "en" if i % 2 == 0 else "de")
         for i in range(60)],
        ["doc_id", "text", "lang"],
    )
    docs.write.parquet(in_dir)

    stream = spark.readStream.schema(docs.schema).parquet(in_dir)
    curated = stratified_sample(
        stream, "lang", {"en": 1.0, "de": 0.5}, "doc_id", seed=5
    )
    scrubbed = pii_scrub(curated)
    q = (
        scrubbed.writeStream.format("parquet")
        .option("path", out_dir).option("checkpointLocation", cp)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    batch = pii_scrub(
        stratified_sample(docs, "lang", {"en": 1.0, "de": 0.5}, "doc_id", seed=5)
    )
    # stream output == batch output, row for row
    sg = sorted((r["doc_id"], r["n_email"], r["clean_text"]) for r in got.collect())
    sb = sorted((r["doc_id"], r["n_email"], r["clean_text"]) for r in batch.collect())
    assert sg == sb and sg
    assert any(n == 1 for _, n, _ in sg) and all("@" not in t for _, _, t in sg)


def test_window_grams_differential_fuzz(spark):
    """Differential fuzz: the gram generator behind decontamination
    (r06: the bound-token array form — the window/lead builder it
    replaced is gone) must emit exactly the grams an independent
    pure-Python reference derives from the same normalization
    (lowercase, ASCII-whitespace runs to one space, trim). Alphabet is
    printable ASCII + whitespace — the engines' trim/lower agree
    there; engine-vs-engine parity at the unicode fringe is the DuckDB
    oracle gate's job."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from go_htmldate_spark.operators.textstats import word_ngrams

    def _window_word_ngrams(df, n, text_col, id_col):
        return df.select(
            F.col(id_col),
            F.explode(word_ngrams(text_col, n)).alias("gram"),
        )

    def ref_grams(text, n):
        toks = re.sub(r"\s+", " ", text.strip(" \t\n\r\f\x0b")).lower().split(" ")
        if n == 1:
            return toks
        return [
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        ]

    texts_strategy = st.lists(
        st.text(alphabet="abcXYZ019 .!-\t\n", min_size=0, max_size=24),
        min_size=1, max_size=8,
    )

    @settings(max_examples=15, deadline=None)
    @given(texts=texts_strategy, n=st.sampled_from([1, 2, 3, 8]))
    def check(texts, n):
        df = spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "text"]
        )
        got = {}
        for r in _window_word_ngrams(df, n, "text", "doc_id").collect():
            got.setdefault(r["doc_id"], []).append(r["gram"])
        for i, text in enumerate(texts):
            assert sorted(got.get(i, [])) == sorted(ref_grams(text, n)), (
                repr(text), n
            )

    check()


def test_host_blocklist_label_boundary_semantics(spark):
    from go_htmldate_spark.operators.curation import blocklist_filter, host_blocklist_flag

    hosts = spark.createDataFrame(
        [
            (1, "x.ads.example"),      # suffix match on ads.example
            (2, "ads.example"),        # exact match
            (3, "bads.example"),       # NOT a label-boundary match
            (4, "news.example"),       # clean
            (5, "h3.news.example"),    # exact 3-label entry
            (6, "deep.h3.news.example"),  # suffix of 3-label entry
            (7, "example"),            # fewer labels than any entry
            (8, "ADS.Example"),        # case-insensitive
        ],
        ["id", "host"],
    )
    bl = spark.createDataFrame([("ads.example",), ("h3.news.example",)], "domain string")
    flagged = {r["id"]: r["blocked"] for r in host_blocklist_flag(hosts, bl).collect()}
    assert flagged == {1: True, 2: True, 3: False, 4: False,
                       5: True, 6: True, 7: False, 8: True}
    kept = sorted(r["id"] for r in blocklist_filter(hosts, bl).collect())
    assert kept == [3, 4, 7]
    # row identity preserved: no duplicates even when several depths probe
    assert host_blocklist_flag(hosts, bl).count() == 8


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    """Lines repeated across >= min_docs documents vanish; unique prose
    and whitespace-only lines survive in original order; an
    all-boilerplate doc comes back empty rather than disappearing."""
    from go_htmldate_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "Sign in\nAlpha prose one\n\nfooter 2024\nAlpha tail"),
            (2, "Sign in\nBeta prose two\n\nfooter 2024"),
            (3, "Gamma only line\n  \nGamma second line"),
            (4, "Sign in\nfooter 2024"),  # nothing but boilerplate
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    assert out[1]["clean_text"] == "Alpha prose one\n\nAlpha tail"
    assert out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "Beta prose two\n"
    assert out[3]["clean_text"] == "Gamma only line\n  \nGamma second line"
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == ""
    assert out[4]["n_lines"] == 0 and out[4]["n_removed"] == 2
    # threshold respected: at min_docs=4 nothing is removed (max dup count is 3)
    out4 = {r["doc_id"]: r["n_removed"] for r in line_dedup(docs, min_docs=4).collect()}
    assert out4 == {1: 0, 2: 0, 3: 0, 4: 0}


def test_host_boilerplate_is_host_scoped_and_fractional(spark):
    """A line repeating in >= min_pct% of ITS host's docs is removed;
    the same string on another host is untouched (host-scoped keys);
    the integer threshold rule is exact at the boundary; a singleton
    host (host_docs < min_docs) is never eligible."""
    from go_htmldate_spark.operators.curation import host_boilerplate

    docs = spark.createDataFrame(
        [
            # host a: 4 docs. "nav A" in all 4 (100%); "promo" in 2 of 4
            # (50% >= 30% -> removed); "rare" in 1 (never: n_docs < 2).
            (1, "a", "nav A\nprose one\npromo"),
            (2, "a", "nav A\nprose two\npromo"),
            (3, "a", "nav A\nprose three\nrare"),
            (4, "a", "nav A\nprose four"),
            # host b: 2 docs sharing "nav A" — same STRING as host a's
            # template but b's own 2/2 = 100% makes it b-boilerplate too;
            # "quote" shared 1-and-1 across hosts a/b never removed.
            (5, "b", "nav A\nb prose\nquote"),
            (6, "b", "nav A\nb tail"),
            # host c: singleton — its repeated-within-one-doc line stays
            # (count_distinct doc_id = 1) and host_docs=1 < min_docs.
            (7, "c", "solo line\nsolo line\nquote"),
        ],
        ["doc_id", "host", "text"],
    )
    out = {r["doc_id"]: r for r in
           host_boilerplate(docs, min_pct=30, min_docs=2).collect()}
    assert out[1]["clean_text"] == "prose one"
    assert out[1]["n_removed"] == 2
    assert out[3]["clean_text"] == "prose three\nrare"
    assert out[4]["clean_text"] == "prose four"
    assert out[5]["clean_text"] == "b prose\nquote"
    assert out[7]["clean_text"] == "solo line\nsolo line\nquote"
    assert out[7]["n_removed"] == 0
    # boundary exactness: promo is 2/4 = 50%; at min_pct=51 it survives
    out51 = {r["doc_id"]: r for r in
             host_boilerplate(docs, min_pct=51, min_docs=2).collect()}
    assert out51[1]["clean_text"] == "prose one\npromo"
    # at min_pct=50 exactly (100*2 >= 50*4) it is removed
    out50 = {r["doc_id"]: r for r in
             host_boilerplate(docs, min_pct=50, min_docs=2).collect()}
    assert out50[1]["clean_text"] == "prose one"


def test_dup_span_stats_and_removal(spark):
    """ExactSubstr dup spans (operators/curation): a word n-gram window
    occurring >= min_count times anywhere in the corpus marks every
    token position it covers; removal cuts exactly those positions and
    keeps the rest in original order. Hand-computed at n=3."""
    from go_htmldate_spark.operators.curation import (
        dup_span_stats,
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            # "a b c" duplicated across docs 1 and 2 -> covers its 3
            # positions in both; the rest unique
            (1, "a b c x y z"),
            (2, "q a b c r"),
            # self-repetition inside one doc: "p p p p" has windows
            # (p p p) at pos 0 and 1 -> duplicated, covers all 4 tokens
            (3, "p p p p w"),
            # shorter than n: zero windows, nothing covered
            (4, "u v"),
            # null text: zero token rows after posexplode — the doc
            # must still come back (line_dedup row-stability contract)
            (5, None),
        ],
        "doc_id int, text string",
    )
    stats = {r["doc_id"]: r for r in dup_span_stats(docs, n=3).collect()}
    assert stats[1]["n_tok"] == 6 and stats[1]["n_windows"] == 4
    assert stats[1]["n_dup_windows"] == 1
    assert stats[1]["dup_token_frac"] == round(3 / 6, 6)
    assert stats[2]["n_dup_windows"] == 1
    assert stats[2]["dup_token_frac"] == round(3 / 5, 6)
    assert stats[3]["n_dup_windows"] == 2
    assert stats[3]["dup_token_frac"] == round(4 / 5, 6)
    assert stats[4]["n_windows"] == 0 and stats[4]["dup_token_frac"] == 0.0
    assert len(stats) == 5
    assert stats[5]["n_tok"] == 0 and stats[5]["dup_token_frac"] == 0.0

    out = {r["doc_id"]: r for r in remove_dup_spans(docs, n=3).collect()}
    assert out[1]["clean_text"] == "x y z" and out[1]["n_removed"] == 3
    assert out[2]["clean_text"] == "q r" and out[2]["n_removed"] == 3
    assert out[3]["clean_text"] == "w" and out[3]["n_removed"] == 4
    assert out[4]["clean_text"] == "u v" and out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_tok"] == 0

    # hashed=True (the 100 TB path: 8-byte keys shuffle, not gram
    # strings) is value-identical to the oracle-exact string keys
    h = {r["doc_id"]: r for r in dup_span_stats(docs, n=3, hashed=True).collect()}
    assert all(
        h[d]["n_dup_windows"] == stats[d]["n_dup_windows"]
        and h[d]["dup_token_frac"] == stats[d]["dup_token_frac"]
        for d in (1, 2, 3, 4)
    )


def test_bm25_postings_and_retrieval(spark, tmp_path_factory):
    """Inverted postings carry (tf, dl) per (term, doc); BM25 ranks the
    saturated-tf / length-normalized way (more hits beats fewer, short
    beats long at equal tf); the prepared bucketed table returns the
    identical scores with a bucket-pruned scan; k cuts with the doc_id
    tie-break."""
    from go_htmldate_spark.operators.retrieval import (
        bm25_topk, build_postings, corpus_stats, prepare_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark merge window"),       # all 3 terms, tf=2 on spark
            (2, "spark merge"),                    # 2 terms, short
            (3, "spark and a lot of other filler words here now"),  # 1 term, long
            (4, "nothing relevant at all"),
            (5, "Spark SPARK merge"),              # case-folded, = doc 2 + extra tf
        ],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    rows = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
            for r in postings.collect()}
    assert rows[("spark", 1)] == (2, 4) and rows[("spark", 5)] == (2, 3)
    assert rows[("merge", 2)] == (1, 2) and ("spark", 4) not in rows

    stats = corpus_stats(postings)
    top = bm25_topk(postings, stats, ["spark", "merge", "window"], k=4).collect()
    order = [r["doc_id"] for r in top]
    scores = {r["doc_id"]: r["score"] for r in top}
    # doc 1 matches all three terms; doc 4 matches none and is absent
    assert order[0] == 1 and 4 not in scores and len(order) == 4
    # doc 2 (dl=2) edges doc 5 (dl=3): the shorter doc's length
    # normalization amplifies the high-idf 'merge' term more than doc
    # 5's extra low-idf 'spark' occurrence adds — the saturation+idf
    # interaction BM25 exists for; the long single-term doc 3 trails
    assert scores[2] > scores[5] > scores[3]

    # prepared lookup: same scores, and the scan touches only the
    # buckets that can hold the query terms (bucket pruning)
    base = tmp_path_factory.mktemp("postings")
    t = prepare_postings(postings, "bm25_postings_test", n_buckets=8,
                         path=str(base / "p"))
    top_p = bm25_topk(t, stats, ["spark", "merge", "window"], k=4)
    assert {(r["doc_id"], r["score"]) for r in top_p.collect()} == {
        (r["doc_id"], r["score"]) for r in top
    }
    plan = top_p._jdf.queryExecution().executedPlan().toString()
    import re as _re
    m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:800]
    assert "TakeOrderedAndProject" in plan
    spark.sql("DROP TABLE IF EXISTS bm25_postings_test")

    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_topk(postings, stats, [], k=4)


def test_revisit_classify_and_stats(spark):
    """WARC 1.1 identical-payload-digest revisit classification
    (plans/revisits): a re-fetch with an unchanged digest becomes a
    payload-free revisit record pointing at the prior capture; changed
    content and first captures stay full response records; the stats
    ledger reconciles bytes_saved = fetched - stored."""
    from go_htmldate_spark.plans.revisits import (
        REVISIT_PROFILE, revisit_classify, revisit_stats,
    )

    fetched = spark.createDataFrame(
        [
            ("u1", "d1", "2026-08-01", 100),  # unchanged → revisit
            ("u2", "d2x", "2026-08-01", 200),  # changed → response
            ("u3", "d3", "2026-08-01", 300),  # first capture → response
        ],
        ["url", "payload_digest", "warc_date", "n_bytes"],
    )
    prior = spark.createDataFrame(
        [("u1", "d1", "2026-07-01"), ("u2", "d2", "2026-07-01")],
        ["url", "payload_digest", "warc_date"],
    )
    rows = {r["url"]: r for r in revisit_classify(fetched, prior).collect()}
    assert rows["u1"]["record_type"] == "revisit"
    assert rows["u1"]["profile"] == REVISIT_PROFILE
    assert rows["u1"]["refers_to_date"] == "2026-07-01"
    assert rows["u1"]["bytes_stored"] == 0
    assert rows["u1"]["bytes_fetched"] == 100
    for u in ("u2", "u3"):
        assert rows[u]["record_type"] == "response"
        assert rows[u]["profile"] is None
        assert rows[u]["refers_to_date"] is None
        assert rows[u]["bytes_stored"] == rows[u]["bytes_fetched"]
    stats = {r["record_type"]: r
             for r in revisit_stats(revisit_classify(fetched, prior)).collect()}
    assert stats["revisit"]["n_records"] == 1
    assert stats["revisit"]["bytes_saved"] == 100
    assert stats["revisit"]["bytes_stored"] == 0
    assert stats["response"]["n_records"] == 2
    assert stats["response"]["bytes_saved"] == 0
    assert stats["response"]["bytes_stored"] == 500


def test_wat_metadata_and_roundtrip(spark, tmp_path):
    """WAT envelope metadata (sources/warc.wat_metadata): title
    whitespace-collapsed, name/content metas in both quote styles
    (content-before-name skipped), href links in document order,
    payload byte length; the shard sink + from_json ingest reproduce
    the direct extraction bit-for-bit and the export bytes are
    deterministic across reruns."""
    import glob
    import os

    from go_htmldate_spark.sources.warc import (
        read_warc, wat_metadata, wat_to_metadata, write_wat_shards,
    )

    html = (
        "<html><head><title>  A\n  B </title>"
        '<meta name="description" content="d1">'
        "<meta name='keywords' content='k1, k2'>"
        '<meta content="rev" name="skipped">'
        '</head><body><a href="https://t.example/x">one</a>'
        "<a class='n' href='https://t.example/y'>two</a>"
        '<a name="no">skip</a><a href="https://t.example/z"><b>img'
        "</b></a></body></html>"
    )
    rec = spark.createDataFrame(
        [("https://s.example/p", "2026-08-01T00:00:00Z", "urn:x:1", 200,
          "text/html; charset=utf-8", bytearray(html.encode()), "response"),
         ("https://s.example/empty", "2026-08-01T00:00:00Z", "urn:x:2",
          404, "text/plain", bytearray(b"no markup"), "response")],
        "url string, warc_date string, record_id string, http_status int,"
        " http_content_type string, payload binary, warc_type string",
    )
    m = wat_metadata(rec)
    rows = {r["url"]: r for r in m.collect()}
    p = rows["https://s.example/p"]
    assert p["title"] == "A B"
    assert p["mime"] == "text/html"
    assert p["status"] == 200
    assert p["payload_len"] == len(html.encode())
    assert list(p["meta_names"]) == ["description", "keywords"]
    assert list(p["meta_contents"]) == ["d1", "k1, k2"]
    # nested-markup anchor (z) is skipped, matching extract_anchors
    assert list(p["links"]) == ["https://t.example/x", "https://t.example/y"]
    assert p["n_links"] == 2
    e = rows["https://s.example/empty"]
    assert e["title"] == "" and e["n_links"] == 0
    assert list(e["links"]) == [] and list(e["meta_names"]) == []

    out = str(tmp_path / "wat")
    write_wat_shards(m, out, n_shards=2)
    first = {os.path.basename(f): open(f, "rb").read()
             for f in glob.glob(out + "/*.warc.wat.gz")}
    assert first
    write_wat_shards(m, out, n_shards=2)  # deterministic rerun
    again = {os.path.basename(f): open(f, "rb").read()
             for f in glob.glob(out + "/*.warc.wat.gz")}
    assert first == again
    back = wat_to_metadata(
        read_warc(spark, out + "/*.warc.wat.gz", warc_types=("metadata",))
    )
    assert sorted(map(str, back.collect())) == sorted(map(str, m.collect()))


def test_temporal_rebalance(spark):
    """Date-aware proportional fitting (curation.temporal_rebalance):
    binding years (scarcest vs their target share) are kept at 100%,
    the rest down-sample to proportion, non-target years drop, and the
    sample is a pure function of (seed, key)."""
    from go_htmldate_spark.operators.curation import temporal_rebalance

    rows = ([(i, 2016) for i in range(10)]
            + [(100 + i, 2019) for i in range(30)]
            + [(200 + i, 2022) for i in range(4)]
            + [(300 + i, 1999) for i in range(5)])  # non-target year
    df = spark.createDataFrame(rows, ["doc_id", "year"])
    target = {2016: 0.5, 2019: 0.3, 2022: 0.2}
    # scale = min(10/.5, 30/.3, 4/.2) = 20 -> rates 1.0 / 0.2 / 1.0
    out = temporal_rebalance(df, "year", "doc_id", target, seed=3)
    got = out.groupBy("year").count().collect()
    by_year = {r["year"]: r["count"] for r in got}
    assert by_year[2016] == 10 and by_year[2022] == 4  # binding: all kept
    assert 1999 not in by_year
    assert 0 < by_year.get(2019, 0) < 30  # down-sampled
    # deterministic: the same call selects the same rows
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"]
               for r in temporal_rebalance(df, "year", "doc_id", target,
                                           seed=3).collect())
    assert a == b
    # different seed -> (almost surely) different 2019 subset, same law
    c = temporal_rebalance(df, "year", "doc_id", target, seed=4)
    assert c.filter("year = 2016").count() == 10
    # every target year absent from the corpus -> empty result
    assert temporal_rebalance(df, "year", "doc_id", {2030: 1.0}).count() == 0


def test_adaptive_delay(spark):
    """Heritrix delay-factor politeness (backoff.adaptive_delay): the
    LAST fetch duration (by timestamp) drives the delay, clamped to
    [min, max], and the budget is round_ms / delay."""
    from go_htmldate_spark.plans.backoff import adaptive_delay

    log = spark.createDataFrame(
        [
            ("slow.example", 1, 1000.0), ("slow.example", 2, 9000.0),
            ("fast.example", 1, 4.0),    # 5x4=20 -> clamp up to 100
            ("dead.example", 1, 50000.0),  # 5x50000 -> clamp to 30000
        ],
        ["host", "fetch_ts", "duration_ms"],
    )
    out = {r["host"]: r for r in adaptive_delay(log).collect()}
    s = out["slow.example"]
    assert s["last_duration_ms"] == 9000.0  # max_by ts, not max duration
    assert s["mean_duration_ms"] == 5000.0
    assert s["n_fetches"] == 2
    assert s["crawl_delay_ms"] == 45000.0 or s["crawl_delay_ms"] == 30000.0
    assert s["crawl_delay_ms"] == 30000.0  # clamped at max
    assert out["fast.example"]["crawl_delay_ms"] == 100.0
    assert out["fast.example"]["politeness_budget"] == 600.0
    assert out["dead.example"]["crawl_delay_ms"] == 30000.0
    assert out["dead.example"]["politeness_budget"] == 2.0


def test_linear_quality_score(spark):
    """Hashing-trick linear classifier (curation.linear_quality_score):
    logit = mean of hashed-bucket weights, exact and order-independent
    with the dyadic weight vector; keep thresholds the logit; empty
    docs are omitted; identical tokens get identical buckets so logit
    is invariant to token order."""
    from go_htmldate_spark.operators.curation import (
        hashed_weights, linear_quality_score,
    )

    w = hashed_weights(spark, dim=64, seed=5)
    wrows = {r["bucket"]: r["weight"] for r in w.collect()}
    assert len(wrows) == 64
    assert all(-1.0 <= v < 1.0 for v in wrows.values())
    # dyadic: every weight is a multiple of 2^-20
    assert all(v * (1 << 20) == int(v * (1 << 20)) for v in wrows.values())

    docs = spark.createDataFrame(
        [(1, "alpha beta  gamma"), (2, "gamma beta alpha"), (3, "   "),
         (4, "alpha alpha alpha alpha")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r
           for r in linear_quality_score(docs, w, dim=64, seed=5).collect()}
    assert 3 not in out  # no tokens -> omitted
    assert out[1]["n_tok"] == 3
    # order-invariant: same bag of tokens, same logit bit-for-bit
    assert out[1]["logit"] == out[2]["logit"]
    # a single repeated token's logit is that token's bucket weight
    import hashlib
    h = int(hashlib.md5(b"5f:alpha").hexdigest()[:15], 16) % 64
    assert out[4]["logit"] == wrows[h]
    assert out[4]["keep"] == (out[4]["logit"] > 0.0)


def test_host_cap_sample(spark):
    """Domain-fairness cap (curation.host_cap_sample): at most cap
    rows per host; the salted two-phase rank returns EXACTLY the
    host-level top-cap by the deterministic uniform (verified against
    a direct single-window rank); under-cap hosts keep everything."""
    from pyspark.sql import Window

    from go_htmldate_spark.operators.curation import (
        host_cap_sample, sample_uniform,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 < 4, F.lit("mega.example"))
        .otherwise(F.concat(F.lit("small"), (F.col("id") % 7).cast("string"),
                            F.lit(".example"))).alias("host"),
    )
    out = host_cap_sample(df, "host", "doc_id", cap=3, seed=2, n_salts=4)
    counts = {r["host"]: r["n"] for r in
              out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 3 for n in counts.values())
    assert counts["mega.example"] == 3
    # exactness: equals the direct (unsalted) top-cap
    w = Window.partitionBy("host").orderBy("_u", "doc_id")
    direct = (df.withColumn("_u", sample_uniform(F.col("doc_id"), 2))
                .withColumn("_r", F.row_number().over(w))
                .filter("_r <= 3").select("doc_id", "host"))
    assert (sorted(map(str, out.collect()))
            == sorted(map(str, direct.collect())))
    # a host with fewer than cap rows keeps all of them
    tiny = spark.createDataFrame([(1, "t.example"), (2, "t.example")],
                                 ["doc_id", "host"])
    assert host_cap_sample(tiny, "host", "doc_id", cap=5).count() == 2


def test_collocations_lift_and_plan(spark):
    """Bigram collocation mining (textstats.collocations): known-count
    corpus — 'all rights reserved' repeated vs free text — yields exact
    pair/unigram counts and the one-division lift; gram generation is
    map-only (exchanges only on the two count keys + broadcasts)."""
    from go_htmldate_spark.operators.textstats import collocations

    docs = spark.createDataFrame(
        [(0, "All rights reserved. " * 4 + "the cat sat"),
         (1, "the dog sat on the mat all alone"),
         (2, "rights and duties of the estate")],
        "doc_id long, text string",
    )
    got = {(r["w1"], r["w2"]): r for r in
           collocations(docs, min_count=3).collect()}
    assert set(got) == {("all", "rights"), ("rights", "reserved."),
                        ("reserved.", "all")}
    r = got[("all", "rights")]
    # corpus: doc0 has 4x 'all rights', 'all' appears 4+1+0, 'rights' 4+0+1
    assert (r["n_pair"], r["n_w1"], r["n_w2"]) == (4, 5, 5)
    n_total = sum(len(t.split()) for _, t in
                  [(0, "All rights reserved. " * 4 + "the cat sat"),
                   (1, "the dog sat on the mat all alone"),
                   (2, "rights and duties of the estate")])
    assert abs(r["lift"] - (4.0 * n_total) / (5.0 * 5.0)) < 1e-12

    plan = (collocations(docs, min_count=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert ("w#" in line or "w1" in line or "bg" in line
                    or "w2" in line), line


def test_blockword_filter(spark):
    """C4's word-level gate: token-exact (substrings never match),
    case-insensitive, count reported; empty/None-free mechanics."""
    import pyspark.sql.functions as F  # noqa: F811

    from go_htmldate_spark.operators.curation import blockword_filter

    docs = spark.createDataFrame([
        (1, "a clean document here"),
        (2, "contains ZZQX twice zzqx end"),
        (3, "zzqxy is not a match nor prefixzzqx"),
        (4, "qqzzv appears once"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_blocked"], r["blockword_ok"])
           for r in blockword_filter(docs, ["zzqx", "qqzzv"]).collect()}
    assert out == {1: (0, True), 2: (2, False), 3: (0, True),
                   4: (1, False)}
    plan = (blockword_filter(docs, ["zzqx"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_gopher_quality_rules(spark):
    """Each Gopher structural rule trips on its planted class and the
    clean document passes all five."""
    from go_htmldate_spark.operators.curation import gopher_quality_rules

    good = ("The weather report says that we have sunshine to share "
            "with all of the town and be glad.")
    docs = spark.createDataFrame([
        (1, good),
        (2, "the of # # # # # # # # # # to be"),          # symbol ratio
        (3, "\n".join("- the item of note" for _ in range(10))),  # bullets
        (4, "\n".join("the story continues..." for _ in range(10))),
        (5, "the 111 222 333 444 555 666 777 888 999 000 to"),  # alpha
        (6, "zebra quartz wobble nimbus vortex"),          # stopwords
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_quality_rules(docs).collect()}
    assert rows[1]["gopher_rules_ok"]
    assert rows[1]["n_stopwords"] >= 4
    assert not rows[2]["gopher_rules_ok"] and rows[2]["symbol_ratio"] > 0.1
    assert not rows[3]["gopher_rules_ok"] and rows[3]["bullet_frac"] == 1.0
    assert not rows[4]["gopher_rules_ok"] and rows[4]["ellipsis_frac"] == 1.0
    assert not rows[5]["gopher_rules_ok"] and rows[5]["alpha_word_frac"] < 0.8
    assert not rows[6]["gopher_rules_ok"] and rows[6]["n_stopwords"] == 0
    plan = (gopher_quality_rules(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
