"""Semantic tests for the LLM-data operators: do they actually find what
they claim to find (planted duplicates, near-duplicates, similarity
structure) -- properties the oracle-parity test can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_financial_lakehouse_spark.operators import dedup, multimodal, similarity, text

@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into the woods "
        "while the hunter waits patiently near the river bank watching every movement"
    )
    near = base.replace("patiently", "quietly")  # one token changed
    rows = [
        (0, base, "en", "s0", len(base)),
        (1, base, "en", "s1", len(base)),  # exact duplicate of 0
        (2, near, "en", "s2", len(near)),  # near duplicate of 0
        (3, "completely different text about spark query engines and columnar storage formats for analytics workloads at scale", "en", "s3", 114),
        (4, "short doc", "en", "s4", 9),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])

def test_exact_dedup_collapses_planted_duplicate(docs):
    out = dedup.exact_dedup(docs).collect()
    by_rep = {r["representative_id"]: r["n_copies"] for r in out}
    assert by_rep[0] == 2  # docs 0 and 1 collapse
    assert len(out) == 4  # 5 docs -> 4 distinct contents

def test_minhash_identical_docs_have_identical_signatures(docs):
    sigs = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8)) for r in dedup.minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    # near-dup shares most hash mins; disjoint doc shares none
    shared_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    shared_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert shared_near >= 4
    assert shared_far == 0

def test_lsh_finds_exact_and_near_duplicates(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup lands in a shared band
    assert not any(3 in p or 4 in p for p in pairs)

def test_ngram_jaccard_scores(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs

@pytest.fixture(scope="module")
def degenerate_docs(spark):
    """1,000 identical documents -- the mass-duplicated boilerplate page
    every web crawl contains.  Uncapped, every band bucket and every
    shingle bucket holds all 1,000 ids and the pair expansion is ~500k
    pairs on ONE task."""
    txt = (
        "breaking news markets rally as investors cheer strong earnings "
        "reports across the technology sector with volumes surging"
    )
    rows = [(i, txt, "en", f"s{i}", len(txt)) for i in range(1000)]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])

def test_hot_bucket_cap_stops_lsh_blowup(degenerate_docs):
    """The capped LSH ladder must complete without expanding the ~500k
    in-bucket pairs: every bucket exceeds MAX_BUCKET, so the candidate set
    is empty -- the exact tier (hash groupBy, no quadratic step) is the
    one that collapses identical docs."""
    pairs = dedup.lsh_candidate_pairs(degenerate_docs).collect()
    assert pairs == []
    exact = dedup.exact_dedup(degenerate_docs).collect()
    assert len(exact) == 1 and exact[0]["n_copies"] == 1000

def test_hot_bucket_cap_stops_ngram_blowup(degenerate_docs):
    """Same corpus through the inverted index: every shingle's df is
    1,000 > MAX_BUCKET, so the intersection is empty and no pair reaches
    the Jaccard stage."""
    assert dedup.ngram_jaccard_pairs(degenerate_docs).collect() == []

def test_uncapped_buckets_still_pair_below_threshold(degenerate_docs):
    """Sanity for the cap itself: raising the cap above the corpus size
    restores the quadratic behavior (1000 choose 2 exact-dup pairs)."""
    n = dedup.lsh_candidate_pairs(degenerate_docs.limit(60), max_bucket=100).count()
    assert n == 60 * 59 // 2

def test_ngram_pack_guard_raises_on_out_of_range_doc_id(spark):
    big_id = spark.createDataFrame(
        [(1 << 42, "some text with enough words to shingle properly here", "en", "s", 51)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    with pytest.raises(Exception, match="ngram pack overflow"):
        dedup.ngram_jaccard_pairs(big_id).collect()

def test_simhash_hamming_reflects_similarity(docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert fp[0] == fp[1]
    assert ham(fp[0], fp[2]) <= ham(fp[0], fp[3])

def test_cosine_topk_self_structure(spark):
    # construct vectors with known geometry: v1 ~ v0 (same direction),
    # v2 orthogonal-ish
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [2.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 3.0, 0.0, 0.0], 0),
        (3, [1.0, 1.0, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = similarity.cosine_topk(emb, n_queries=1, k=3).collect()
    assert [r["neighbor_id"] for r in out] == [1, 3, 2]
    assert out[0]["cosine"] == 1.0
    assert out[2]["cosine"] == 0.0

def test_ivf_restricts_to_bucket(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.1], 0),
        (2, [1.0, 0.0], 1),  # identical direction but other bucket
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = similarity.ivf_topk(emb, k=5).collect()
    neighbors_of_0 = [r["neighbor_id"] for r in out if r["query_id"] == 0]
    assert neighbors_of_0 == [1]  # vec 2 pruned by bucket despite cosine 1.0

def test_text_quality_flags(docs):
    rows = {r["doc_id"]: r for r in text.text_quality(docs).collect()}
    assert rows[0]["quality_pass"] is True
    assert rows[4]["quality_pass"] is False  # short doc fails gates
    assert rows[0]["stopword_ratio"] > 0

def test_embedding_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [2.0, 0.001], 0),  # same direction, same bucket -> near-dup
        (2, [0.0, 1.0], 0),    # orthogonal -> not a dup
        (3, [1.0, 0.0], 1),    # same direction, other bucket -> pruned
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in similarity.embedding_near_dup(emb, threshold=0.95).collect()}
    assert pairs == {(0, 1)}

def test_bpe_token_stats_splits_runs(spark):
    df = spark.createDataFrame(
        [(0, "hello world42, don't stop!", "en", "s", 26)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = text.bpe_token_stats(df).collect()[0]
    # hello | world | 42 | , | don | ' | t | stop | !
    assert row["n_bpe_tokens"] == 9
    assert row["n_ws_tokens"] == 4

def test_winnow_fingerprints_shift_invariance(spark):
    rows = [
        (0, "a b c d e f", "en", "s", 11),
        (1, "x a b c d e f", "en", "s", 13),  # same stream, one-token prefix
        (2, "a b c", "en", "s", 5),           # shorter than the window
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["doc_id"]: r for r in text.winnow_fingerprints(df, window=4).collect()}
    # rolling hash differs (whole stream), but doc 1 contains every window
    # of doc 0, so the winnow min can only go down or stay
    assert out[0]["rolling_hash"] != out[1]["rolling_hash"]
    assert out[1]["winnow_min"] <= out[0]["winnow_min"]
    assert out[0]["n_windows"] == 3 and out[1]["n_windows"] == 4
    assert out[2]["winnow_min"] is None and out[2]["n_windows"] == 0

def test_media_features_exact_values(spark, docs):
    feats = multimodal.extract_features(multimodal.attach_media(docs)).collect()
    by_id = {r["asset_id"]: r for r in feats}
    payload = docs.filter(F.col("doc_id") == 0).collect()[0]["text"].encode()
    assert by_id[0]["n_bytes"] == len(payload)
    assert by_id[0]["byte_sum"] == sum(payload)
    assert by_id[0]["header_hex"] == payload[:4].hex()
    assert by_id[0]["media_type"] == "image"

def test_media_fixture_is_ascii(spark, docs):
    """Precondition for the media_feature_summary oracle: the DuckDB twin
    sums per-char codepoints (ord), which equals the utf-8 byte sum only
    for pure-ASCII text.  Guard the fixture so a future non-ASCII
    documents table fails loudly here instead of hash-mismatching."""
    n_bad = docs.filter(F.octet_length(F.col("text")) != F.length(F.col("text"))).count()
    assert n_bad == 0

def test_media_decode_stub_raises_for_real_decode():
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload("image", b"abc", fake=False)


def test_png_roundtrip_exact():
    """Real-codec pin: encode known pixels, decode, get the exact raster
    back (geometry, mean, crc32 of the reconstruction)."""
    import zlib

    pixels = bytes(range(24))                    # 6x4 gray ramp
    png = multimodal.encode_png(6, 4, pixels)
    assert png[:8] == multimodal.PNG_SIGNATURE
    d = multimodal.decode_png(png)
    assert (d["width"], d["height"], d["channels"], d["n_pixels"]) == (6, 4, 1, 24)
    assert d["sample_sum"] == sum(pixels)
    assert d["mean_value"] == sum(pixels) / 24
    assert d["pixel_crc"] == zlib.crc32(pixels)
    # RGB too
    rgb = bytes((i * 7) % 256 for i in range(3 * 5 * 3))
    d3 = multimodal.decode_png(multimodal.encode_png(3, 5, rgb, color_type=2))
    assert (d3["width"], d3["height"], d3["channels"]) == (3, 5, 3)
    assert d3["pixel_crc"] == zlib.crc32(rgb)


def test_png_decoder_handles_all_filter_types():
    """The decoder must undo every PNG scanline filter (None/Sub/Up/
    Average/Paeth), not just the filter-0 stream our encoder emits: build
    an IDAT whose rows are hand-filtered with types 1-4 and assert the
    reconstruction equals the plain filter-0 image bit for bit."""
    import struct
    import zlib

    w, h = 5, 5
    pixels = bytes((x * 31 + y * 57) % 256 for y in range(h) for x in range(w))
    ref = multimodal.decode_png(multimodal.encode_png(w, h, pixels))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    rows = [pixels[y * w : (y + 1) * w] for y in range(h)]
    filt = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        filt.append(ftype)
        for x in range(w):
            a = rows[y][x - 1] if x > 0 else 0
            b = rows[y - 1][x] if y > 0 else 0
            c = rows[y - 1][x - 1] if (x > 0 and y > 0) else 0
            v = rows[y][x]
            pred = [0, a, b, (a + b) // 2, paeth(a, b, c)][ftype]
            filt.append((v - pred) & 0xFF)

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body) & 0xFFFFFFFF
        )

    png = (
        multimodal.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(filt)))
        + chunk(b"IEND", b"")
    )
    d = multimodal.decode_png(png)
    assert d["pixel_crc"] == ref["pixel_crc"]
    assert d["sample_sum"] == ref["sample_sum"]


def test_png_decode_payload_dispatches_to_real_decoder():
    """A payload with a real PNG signature takes the real-decode path even
    under fake=False -- the stub is only for formats with no codec."""
    pixels = b"\x00\x80\xff\x40"
    png = multimodal.encode_png(2, 2, pixels)
    feats = multimodal.decode_payload("image", png, fake=False)
    assert feats["byte_sum"] == sum(pixels)
    assert feats["byte_mean"] == sum(pixels) / 4
    assert feats["header_hex"] == png[:4].hex()


def test_decode_payload_surfaces_malformed_decoder_result(monkeypatch):
    """The fake=True fallback only absorbs DECODE failures (magic-byte
    collisions); a decoder returning a malformed dict is a programming
    error and must surface, not be masked as byte-stat fake features
    (round-6 advisory: the try wraps only the decode calls)."""
    pixels = b"\x00\x80\xff\x40"
    png = multimodal.encode_png(2, 2, pixels)
    monkeypatch.setattr(multimodal, "decode_png", lambda payload: {})
    with pytest.raises(KeyError):
        multimodal.decode_payload("image", png, fake=True)


def test_png_media_features_end_to_end(spark, docs):
    """Spark-side pipeline: real PNGs encoded from doc text, really
    decoded; geometry must follow the documented w/h derivation and the
    decoded mean must equal the tiled-byte mean computed directly."""
    out = {r["asset_id"]: r for r in multimodal.png_media_features(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        data = (row["text"] or "").encode()
        w, h = len(data) % 13 + 1, len(data) % 7 + 1
        budget = w * h
        tiled = (data * (budget // max(1, len(data)) + 1))[:budget] if data else b"\x00" * budget
        r = out[row["doc_id"]]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 1)
        assert r["n_pixels"] == budget
        import zlib

        assert r["pixel_crc"] == zlib.crc32(tiled)

def test_jpeg_roundtrip_geometry_and_error_bound():
    """Real lossy-codec pin: baseline JPEG encode -> decode recovers
    exact geometry, near-exact means, and bounded per-pixel error.  A
    constant-gray image must come back EXACTLY (DC-only block, quant
    step cannot move a constant)."""
    import numpy as np

    # constant image: lossless through the DC path
    flat = bytes([77] * (16 * 9))
    d = multimodal.decode_jpeg(multimodal.encode_jpeg(16, 9, flat, quality=90))
    assert (d["width"], d["height"], d["channels"], d["n_pixels"]) == (16, 9, 1, 144)
    assert d["sample_sum"] == 77 * 144
    assert d["mean_value"] == 77.0

    # structured image: bounded distortion
    w, h = 21, 13
    pixels = bytes((x * 11 + y * 29) % 256 for y in range(h) for x in range(w))
    payload = multimodal.encode_jpeg(w, h, pixels, quality=90)
    assert payload[:2] == multimodal.JPEG_SOI and payload[-2:] == b"\xff\xd9"
    d = multimodal.decode_jpeg(payload)
    assert (d["width"], d["height"]) == (w, h)
    src = np.frombuffer(pixels, dtype=np.uint8).astype(float)
    assert abs(d["mean_value"] - src.mean()) < 1.5
    # determinism: same input -> same bytes -> same crc
    assert multimodal.encode_jpeg(w, h, pixels, quality=90) == payload


def test_jpeg_stream_is_structurally_standard():
    """The emitted stream must carry the standard markers a third-party
    baseline decoder needs, in order: SOI, DQT, SOF0, DHT (DC+AC), SOS,
    EOI -- and the DHT payload must be the Annex K tables verbatim."""
    payload = multimodal.encode_jpeg(4, 4, bytes(range(16)), quality=90)
    assert payload.index(b"\xff\xdb") < payload.index(b"\xff\xc0")
    assert payload.index(b"\xff\xc0") < payload.index(b"\xff\xc4")
    assert payload.index(b"\xff\xc4") < payload.index(b"\xff\xda")
    dht = payload.index(b"\xff\xc4")
    body = payload[dht + 5 :]
    assert body[: len(multimodal._JPEG_DC_BITS)] == bytes(multimodal._JPEG_DC_BITS)


def test_jpeg_media_features_end_to_end(spark, docs):
    """Spark-side lossy pipeline: real JPEGs encoded from doc text, really
    decoded; geometry follows the tiling rule, the src_mean equals the
    tiled-byte mean, and every decode_close certificate holds."""
    out = {r["asset_id"]: r for r in multimodal.jpeg_media_features(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        data = (row["text"] or "").encode()
        w, h = len(data) % 13 + 1, len(data) % 7 + 1
        budget = w * h
        tiled = (data * (budget // max(1, len(data)) + 1))[:budget] if data else b"\x00" * budget
        r = out[row["doc_id"]]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, budget)
        assert abs(r["src_mean"] - sum(tiled) / budget) < 1e-6
        assert r["decode_close"] is True


def test_ivf_learned_plan_stays_lean(spark):
    """Perf pin for the round-3 regression: ivf_topk_learned must stay a
    pure-expression plan -- no ML-transform UDF stage, at most the five
    intrinsic exchanges (2x _spread round-robin, broadcast probes, top-k
    window hash, final sort) -- and plan CONSTRUCTION must stay cheap
    (the regression was ~2s of driver time building C x dim nested
    F.lit() literals, one py4j round-trip each; the fix inlines the
    centroid matrix as one SQL string)."""
    import re
    import time

    from conftest import SF_SMOKE
    from real_time_financial_lakehouse_spark.registry_llmdata import _emb

    emb = _emb(spark, SF_SMOKE)
    model = similarity.fit_codebook(emb, cache_key=SF_SMOKE)
    # Best of five constructions: the first in a fresh JVM pays one-time
    # py4j/analysis warmup (observed ~1.4s cold vs ~0.1s steady), and a
    # loaded full-suite JVM (GC pauses from 900+ prior tests) can double
    # any single build; the regression this pins was a SYSTEMATIC ~2s per
    # construction, which min-of-5 under a 1.8s bar still catches while
    # absorbing suite-load jitter (r9: best-of-2 at 1.0s flaked once in
    # the full suite; r12: best-of-3 at 1.5s flaked once under a
    # 32-worker suite on a loaded host, green in isolation both times --
    # each relaxation dated here, the structural UDF/Exchange asserts
    # below are the load-independent half of the pin).
    builds = []
    for _ in range(5):
        t0 = time.time()
        df = similarity.ivf_topk_learned(emb, model, n_queries=5, k=5, nprobe=6)
        builds.append(time.time() - t0)
    build_s = min(builds)
    assert build_s < 1.8, f"plan construction took {build_s:.2f}s (best of 5)"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "UDF" not in plan
    assert len(re.findall(r"Exchange", plan)) <= 5


def test_ivf_learned_recall(spark):
    """The learned KMeans codebook must beat random pruning: at nprobe=6
    of C=16 cells the search scans 37.5% of the index, so a codebook that
    learned nothing would land ~0.375 recall@5.  Observed 0.84 at
    sf0.001; assert >= 0.6 to absorb KMeans fit variation across
    partitionings while staying far above the random-pruning floor."""
    from conftest import SF_SMOKE
    from real_time_financial_lakehouse_spark.registry_llmdata import _emb

    emb = _emb(spark, SF_SMOKE)
    exact = similarity.cosine_topk(emb, n_queries=5, k=5).collect()
    model = similarity.fit_codebook(emb, cache_key=SF_SMOKE)
    learned = similarity.ivf_topk_learned(emb, model, n_queries=5, k=5, nprobe=6).collect()
    ex: dict = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    le: dict = {}
    for r in learned:
        le.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(ex[q] & le.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    assert len(learned) == 25  # Q x k, the rows-only contract
    assert hits / total >= 0.6

def test_grouped_head_sample_two_phase_equals_single_window(spark):
    """The salted two-phase top-k must equal the naive single-window
    top-k on a skewed frame (one giant stratum), for every salt count."""
    from pyspark.sql import Window

    from real_time_financial_lakehouse_spark.functions.hashing import md5_long
    from real_time_financial_lakehouse_spark.operators import pipeline

    rows = [(i, "big" if i % 10 else "small") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    w = Window.partitionBy("lang").orderBy(md5_long(F.col("doc_id").cast("string")), "doc_id")
    naive = {
        (r["lang"], r["sample_rank"], r["doc_id"])
        for r in df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 7)
        .select("lang", "sample_rank", "doc_id")
        .collect()
    }
    for salts in (1, 3, 8):
        got = {
            (r["lang"], r["sample_rank"], r["doc_id"])
            for r in pipeline.grouped_head_sample(df, k=7, salts=salts).collect()
        }
        assert got == naive

def test_contamination_check_known_overlap(spark):
    """Hand-built corpus: holdout doc 0 shares exactly half its shingles
    with the train split; doc 10 shares none."""
    from real_time_financial_lakehouse_spark.operators import pipeline

    rows = [
        (0, "a b c d e f"),        # holdout: shingles {abc,bcd,cde,def}
        (10, "x y z w v u"),       # holdout: no overlap
        (1, "a b c d q q"),        # train: provides {abc,bcd} (+ own)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pipeline.contamination_check(df).collect()}
    assert out[0]["n_shingles"] == 4 and out[0]["n_contaminated"] == 2
    assert abs(out[0]["contamination"] - 0.5) < 1e-9
    assert out[10]["n_contaminated"] == 0

def test_sketch_paths_within_error_bounds(spark):
    """The approx twins must land within their sketches' error bounds of
    the exact operators (HLL++ rsd=2%, percentile_approx acc=10000)."""
    from real_time_financial_lakehouse_spark.operators import rollup as r

    from conftest import SF_SMOKE
    from real_time_financial_lakehouse_spark.catalog import load_table

    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events")
    exact = {row["symbol"]: row for row in r.distinct_user_counts(ev).collect()}
    # audit form: exact columns must agree with the exact twin, and the
    # within-bound certificate must hold on real data
    for row in r.distinct_user_counts_approx(ev).collect():
        e = exact[row["symbol"]]
        assert row["n_users_exact"] == e["n_users"]
        assert row["n_events"] == e["n_events"]
        assert row["approx_within_bound"] is True, row
    # raw HLL estimate (folded into the certificate) asserted directly
    raw = {
        row["symbol"]: row["a"]
        for row in ev.groupBy(F.col("event_type").alias("symbol"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    for sym, e in exact.items():
        assert abs(raw[sym] - e["n_users"]) <= max(2, 0.1 * e["n_users"])

    # percentile_approx guarantees RANK error (<= n/accuracy), not value
    # error -- in a sparse tail one rank step can be a large value jump,
    # so assert on the rank of the returned (actual data point) value.
    import bisect

    values = {}
    for row in ev.select("event_type", "value").collect():
        values.setdefault(row["event_type"], []).append(row["value"])
    for row in r.value_percentiles_approx(ev).collect():
        assert row["approx_within_bound"] is True, row
    raw_p = {
        row["symbol"]: row["p"]
        for row in ev.groupBy(F.col("event_type").alias("symbol"))
        .agg(F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("p"))
        .collect()
    }
    for sym, ps in raw_p.items():
        vs = sorted(values[sym])
        n = len(vs)
        for ap, q in zip(ps, [0.5, 0.9, 0.99]):
            rank = bisect.bisect_left(vs, ap)
            assert abs(rank - q * n) <= max(2, 0.01 * n), (sym, ap, rank, q * n)

# ---------------------------------------------------------------------------
# pack_sequences / quality_gate / repetition_stats semantics
# ---------------------------------------------------------------------------

def test_pack_sequences_respects_budget_and_isolates_oversized(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline

    rows = [
        (i, " ".join(["w"] * n), "en", "s", n * 2)
        for i, n in enumerate([10, 10, 10, 40, 10, 10])
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = pipeline.pack_sequences(docs, budget=25, n_buckets=1).collect()
    by_doc = {r["doc_id"]: r["seq_id"] for r in out}
    # greedy in doc_id order with budget 25: [10,10]=seq0, [10]=seq1 (next
    # is the 40 which overflows), [40]=seq2 alone (over budget), [10,10]=seq3
    assert by_doc == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 3}
    # every sequence except the oversized singleton stays within budget
    fills = {}
    toks = {r["doc_id"]: r["n_tokens"] for r in out}
    for d, s in by_doc.items():
        fills[s] = fills.get(s, 0) + toks[d]
    assert all(f <= 25 for s, f in fills.items() if s != 2)
    assert fills[2] == 40

def test_pack_sequences_is_deterministic_across_runs(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline
    from real_time_financial_lakehouse_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = pipeline.pack_sequences(docs).collect()
    b = pipeline.pack_sequences(docs.repartition(7)).collect()
    assert a == b  # bucket hash + in-bucket doc_id order pin the result

def test_quality_gate_reasons_fire_individually(spark):
    from real_time_financial_lakehouse_spark.operators import text as t

    long_clean = " ".join(f"tok{i}" for i in range(40))
    repeated = " ".join(["dup"] * 40)
    rows = [
        (0, long_clean, "en", "s", len(long_clean)),      # keeps
        (1, "tiny doc here", "en", "s", 13),  # min_chars+min_words (+top_word: 1/3 > cut)
        (2, repeated, "en", "s", len(repeated)),          # dup_words+top_word
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["doc_id"]: r for r in t.quality_gate(docs).collect()}
    assert out[0]["keep"] and out[0]["reasons"] == ""
    assert not out[1]["keep"] and out[1]["reasons"] == "min_chars,min_words,top_word"
    assert not out[2]["keep"]
    assert "dup_words" in out[2]["reasons"] and "top_word" in out[2]["reasons"]

def test_repetition_stats_on_planted_repetition(spark):
    from real_time_financial_lakehouse_spark.operators import text as t

    rows = [
        (0, "a b c d", "en", "s", 7),          # all distinct
        (1, "x x x x", "en", "s", 7),          # one word repeated
        (2, "lone", "en", "s", 4),             # single word: no bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["doc_id"]: r for r in t.repetition_stats(docs).collect()}
    assert out[0]["dup_word_frac"] == 0.0 and out[0]["top_word_frac"] == 0.25
    assert out[1]["dup_word_frac"] == 0.75 and out[1]["top_bigram_frac"] == 1.0
    assert out[2]["n_bigrams"] == 0 and out[2]["top_bigram_frac"] is None

def test_mixture_sample_hits_exact_quotas(spark):
    from real_time_financial_lakehouse_spark.operators import pipeline
    from real_time_financial_lakehouse_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = {r["lang"]: r for r in pipeline.mixture_sample(docs).collect()}
    # quotas: n_kept = floor(target_w * min(n_docs / target_w)) exactly
    nstar = min(r["n_docs"] / r["target_w"] for r in out.values())
    for lang, r in out.items():
        assert r["n_kept"] == int(r["target_w"] * nstar // 1), lang
        assert r["n_kept"] <= r["n_docs"]

def test_fuzzy_dedup_keep_returns_representatives(docs):
    out = {r["doc_id"]: r for r in dedup.fuzzy_dedup_keep(docs).collect()}
    # docs 0/1 (exact dups) and 2 (near-dup) cluster together under rep 0;
    # 3 and 4 survive as singletons
    assert set(out) == {0, 3, 4}
    assert out[0]["n_members"] == 3
    assert out[3]["n_members"] == 1 and out[4]["n_members"] == 1


def test_shared_window_pairs_exact_substring_semantics(spark):
    """A verbatim 8-word overlap pairs two docs even when their overall
    shingle similarity is low; docs with no 8-word window in common never
    pair."""
    from real_time_financial_lakehouse_spark.operators import dedup as dd

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, shared + " unique tail about finance and markets today", "en", "s", 1),
        (1, "totally different opening words here and then " + shared, "en", "s", 1),
        (2, "no overlap with anything else at all whatsoever in this text", "en", "s", 1),
        (3, "short doc", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared_windows"]
             for r in dd.shared_window_pairs(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert all(2 not in p and 3 not in p for p in pairs)


def test_token_budget_mixture_water_filling_properties(spark):
    """The allocation must (a) never exceed a source's own tokens,
    (b) sum to the budget when the budget is binding, (c) take small
    sources whole while capping large ones at a common level."""
    rows = []
    did = 0
    for src, n_docs, words in (("tiny", 2, 3), ("mid", 10, 20), ("huge", 50, 100)):
        for _ in range(n_docs):
            rows.append((did, " ".join(f"w{i}" for i in range(words)), "en", src, 1))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from real_time_financial_lakehouse_spark.operators import pipeline as pl

    out = {r["source"]: r for r in pl.token_budget_mixture(docs, budget_frac=0.5).collect()}
    totals = {"tiny": 6, "mid": 200, "huge": 5000}
    budget = sum(totals.values()) * 0.5
    for src, r in out.items():
        assert r["total_tokens"] == totals[src]
        assert r["alloc_tokens"] <= r["total_tokens"] + 1e-6
        assert 0.0 < r["sample_rate"] <= 1.0
    assert abs(sum(r["alloc_tokens"] for r in out.values()) - budget) < 1e-3
    assert out["tiny"]["alloc_tokens"] == 6.0          # taken whole
    assert out["mid"]["alloc_tokens"] == 200.0         # still below the level
    assert out["huge"]["sample_rate"] < 1.0            # capped at the level


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """SQ8 reconstruction: rmse must be below half a quantization step,
    codes must span [0, 255] for a non-constant vector, and a constant
    vector must map to all-zero codes with zero error."""
    emb = spark.createDataFrame(
        [(0, [float(i) for i in range(64)], 0),
         (1, [0.5] * 64, 0),
         (2, [(-1.0) ** i * (i / 7.0) for i in range(64)], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    from real_time_financial_lakehouse_spark.operators import similarity as sim

    out = {r["vec_id"]: r for r in sim.quantize_embeddings(emb).collect()}
    for vid, r in out.items():
        rng = r["q_max"] - r["q_min"]
        step = rng / 255.0
        assert r["rmse"] <= step / 2 + 1e-9
    assert out[1]["code_sum"] == 0 and out[1]["rmse"] == 0.0
    assert out[0]["code_sum"] == sum(round((i - 0) * 255.0 / 63.0) for i in range(64))


def test_wav_roundtrip_exact_and_chunk_walk():
    """Real PCM codec pin: encode known samples, decode, get exact stats
    back; a WAV with an extra (odd-length) LIST chunk before data must
    still decode -- the chunk walk honors word alignment."""
    import struct

    samples = [0, 1000, -1000, 32767, -32768, 500]
    wav = multimodal.encode_wav(samples, sample_rate=8000)
    d = multimodal.decode_wav(wav)
    assert d["sample_rate"] == 8000
    assert d["n_samples"] == 6 and d["n_channels"] == 1
    assert d["peak"] == 32768
    assert d["mean_abs"] == sum(abs(s) for s in samples) / 6
    assert d["duration_ms"] == 6 * 1000 // 8000

    # inject an odd-length chunk between fmt and data
    fmt_end = wav.index(b"data")
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    d2 = multimodal.decode_wav(patched)
    assert d2["peak"] == d["peak"] and d2["n_samples"] == d["n_samples"]


def test_wav_media_features_end_to_end(spark, docs):
    """Spark-side audio pipeline: real WAVs encoded from doc text,
    really decoded; stats must equal the direct byte computation."""
    out = {r["asset_id"]: r for r in multimodal.wav_media_features(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        data = (row["text"] or "").encode() or b"\x40"
        reps = len(data) % 3 + 1
        samples = [max(-32768, min(32767, (b - 64) * 256)) for b in data] * reps
        r = out[row["doc_id"]]
        assert r["sample_rate"] == 16000
        assert r["n_samples"] == len(samples)
        assert r["peak"] == max(abs(s) for s in samples)
        assert abs(r["mean_abs"] - sum(abs(s) for s in samples) / len(samples)) < 2e-6


def test_wav_decode_payload_dispatches_to_real_decoder():
    wav = multimodal.encode_wav([100, -200, 300])
    feats = multimodal.decode_payload("audio", wav, fake=False)
    assert feats["byte_sum"] == 300          # peak amplitude
    assert feats["header_hex"] == wav[:4].hex()


def test_embedding_outliers_flags_planted_stray(spark):
    """A vector far from its label's centroid must be the flagged
    outlier; tight cluster members must not flag; a single-member label
    (zero spread) reports NULL z without error."""
    # enough tight members that one stray CAN exceed z=2.5: with n
    # points the max population z is sqrt(n-1), so n must be > 7.25
    rows = [
        (i, [1.0 + 0.001 * i, 0.001 * (i % 3), 0.0], 0) for i in range(12)
    ]
    rows.append((50, [-5.0, 5.0, 5.0], 0))   # stray member of label 0
    rows.append((60, [0.0, 1.0, 0.0], 1))    # lone member of label 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = {r["vec_id"]: r for r in similarity.embedding_outliers(emb).collect()}
    assert out[50]["is_outlier"] is True
    assert all(out[i]["is_outlier"] is False for i in range(12))
    assert out[60]["z"] is None and out[60]["is_outlier"] is False
    assert out[60]["dist_to_centroid"] == 0.0


def test_gif_lzw_roundtrip_across_code_width_boundaries():
    """The LZW table crosses the 512- and 1024-entry code-width bumps on
    a few-KB random stream; encoder (widens at 2^w + 1) and decoder
    (one entry behind, widens at 2^w) must stay in lockstep, including
    the KwKwK self-referential case."""
    import random

    rng = random.Random(7)
    for size in (1, 10, 300, 2000, 9000):
        data = bytes(rng.randrange(256) for _ in range(size))
        enc = multimodal._gif_lzw_encode(data)
        assert multimodal._gif_lzw_decode(enc, 8) == data
    # KwKwK: a run of identical bytes forces code == next_code immediately
    run = b"\x42" * 500
    assert multimodal._gif_lzw_decode(multimodal._gif_lzw_encode(run), 8) == run


def test_gif_roundtrip_exact():
    """Full-container pin: header, LSD, 256-entry grayscale GCT, image
    descriptor, sub-block reassembly, LZW, palette lookup -- lossless."""
    import zlib

    px = bytes((i * 7 + 13) % 256 for i in range(50 * 40))
    gif = multimodal.encode_gif(50, 40, px)
    assert gif[:6] == b"GIF89a" and gif[-1] == 0x3B
    d = multimodal.decode_gif(gif)
    assert (d["width"], d["height"], d["channels"], d["n_pixels"]) == (50, 40, 1, 2000)
    assert d["mean_value"] == sum(px) / 2000
    assert d["pixel_crc"] == zlib.crc32(px)


def test_gif_decoder_skips_extension_blocks_and_rejects_corrupt():
    """Real-world GIFs lead with extension blocks (GCE/comment); the
    decoder must walk past them, and fail loudly on a bad signature or a
    truncated stream."""
    import pytest as _pytest

    px = bytes(range(16))
    gif = bytearray(multimodal.encode_gif(4, 4, px))
    # splice a Graphic Control Extension right before the image descriptor
    idx = gif.index(0x2C, 6 + 7 + 768)
    gce = bytes([0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00])
    spliced = bytes(gif[:idx]) + gce + bytes(gif[idx:])
    d = multimodal.decode_gif(spliced)
    assert d["n_pixels"] == 16
    with _pytest.raises(ValueError):
        multimodal.decode_gif(b"NOTGIF" + bytes(gif[6:]))
    with _pytest.raises(ValueError):
        multimodal.decode_gif(bytes(gif[:20]))


def test_gif_media_features_end_to_end(spark, docs):
    """Spark-side pipeline: real GIFs encoded from doc text, really
    decoded; lossless palette path must reproduce the tiled bytes
    exactly (same contract as the PNG gate)."""
    import zlib

    out = {r["asset_id"]: r for r in multimodal.gif_media_features(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        data = (row["text"] or "").encode()
        w, h = len(data) % 13 + 1, len(data) % 7 + 1
        budget = w * h
        tiled = (
            (data * (budget // max(1, len(data)) + 1))[:budget]
            if data
            else b"\x00" * budget
        )
        r = out[row["doc_id"]]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 1)
        assert r["n_pixels"] == budget
        assert r["pixel_crc"] == zlib.crc32(tiled)


def test_y4m_roundtrip_exact():
    """Real Y4M round-trip: encode -> decode reproduces geometry, frame
    count, fps-derived duration, luma stats and the exact-content crc."""
    import zlib

    frames = [bytes(range(12)), bytes((x * 7 + 3) % 256 for x in range(12))]
    payload = multimodal.encode_y4m(4, 3, frames, fps=(30, 1))
    d = multimodal.decode_y4m(payload)
    assert (d["width"], d["height"], d["n_frames"]) == (4, 3, 2)
    assert (d["fps_num"], d["fps_den"]) == (30, 1)
    assert d["duration_ms"] == 2 * 1000 // 30
    assert d["n_pixels"] == 24
    assert d["mean_value"] == sum(frames[0] + frames[1]) / 24
    assert d["pixel_crc"] == zlib.crc32(frames[0] + frames[1])


def test_y4m_decoder_rejects_corrupt_and_unsupported():
    import pytest as _pytest

    frames = [bytes(range(6))]
    payload = multimodal.encode_y4m(3, 2, frames)
    with _pytest.raises(ValueError):
        multimodal.decode_y4m(b"JUNK" + payload[4:])
    with _pytest.raises(ValueError):
        multimodal.decode_y4m(payload[:-2])  # truncated frame
    with _pytest.raises(NotImplementedError):
        multimodal.decode_y4m(payload.replace(b"Cmono", b"C422 "))
    with _pytest.raises(ValueError):
        multimodal.encode_y4m(3, 2, [b"\x00"])  # wrong frame length
    # spec default colorspace (no C token) is 4:2:0: frame length 1.5x
    y, u = bytes(range(4)), b"\x10"
    chroma_payload = (
        b"YUV4MPEG2 W2 H2 F25:1\n" + b"FRAME\n" + y + u + b"\x20"
    )
    d = multimodal.decode_y4m(chroma_payload)
    assert (d["n_frames"], d["n_pixels"]) == (1, 4)
    assert d["mean_value"] == sum(y) / 4  # stats over luma only


def test_video_media_features_end_to_end(spark, docs):
    """Spark-side pipeline: real Y4M clips encoded from doc text, really
    decoded; the uncompressed-plane path must reproduce the tiled bytes
    plus the per-frame +k ramp exactly (crc included -- the column the
    SQL oracle drops)."""
    import zlib

    out = {r["asset_id"]: r for r in multimodal.video_media_features(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        data = (row["text"] or "").encode()
        w, h = len(data) % 13 + 1, len(data) % 7 + 1
        nf = len(data) % 4 + 1
        budget = w * h
        tiled = (
            (data * (budget // max(1, len(data)) + 1))[:budget]
            if data
            else b"\x00" * budget
        )
        planes = b"".join(
            bytes(min(b + k, 255) for b in tiled) for k in range(nf)
        )
        r = out[row["doc_id"]]
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
        assert r["n_pixels"] == budget * nf
        assert r["duration_ms"] == nf * 40
        assert abs(r["mean_value"] - sum(planes) / (budget * nf)) < 1e-6
        assert r["pixel_crc"] == zlib.crc32(planes)


def test_multimodal_crosses_into_python_through_one_harness():
    """Source guard, no Spark: every encode and decode pass goes through
    ``multimodal._map_rows`` -- one ``mapInPandas(`` call under
    operators/, in multimodal.py, and no hand-written batch loop there."""
    from pathlib import Path

    operators = Path(multimodal.__file__).parent
    calls = {
        path.name: path.read_text().count("mapInPandas(")
        for path in sorted(operators.glob("*.py"))
    }
    assert {k: v for k, v in calls.items() if v} == {"multimodal.py": 1}, calls
    assert "def process(" not in (operators / "multimodal.py").read_text()
