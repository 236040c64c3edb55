"""Tests for assignment/stats/SCC/random-walk/geohash + dedup/text/
similarity operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------ assignment

def test_hungarian_known():
    from gqlite_spark.operators.assignment import hungarian
    cost = [[4, 1, 3], [2, 0, 5], [3, 2, 2]]
    assign, total = hungarian(cost)
    assert total == 5.0  # 1 + 2 + 2
    assert assign == [1, 0, 2]


def test_hungarian_matches_bruteforce():
    from itertools import permutations
    from gqlite_spark.operators.assignment import hungarian
    rng = np.random.RandomState(7)
    for _ in range(10):
        m = rng.randint(0, 50, size=(4, 4)).astype(float)
        _, total = hungarian(m)
        best = min(sum(m[i][p[i]] for i in range(4))
                   for p in permutations(range(4)))
        assert total == best


def test_graph_edit_distance():
    from gqlite_spark.operators.assignment import graph_edit_distance
    assert graph_edit_distance([2, 2, 2], [2, 2, 2]) == 0.0
    assert graph_edit_distance([3, 1], [1, 1]) == 2.0
    assert graph_edit_distance([1], []) == 1.0


# ----------------------------------------------------------------- stats

def test_entropy_and_gain(spark):
    from gqlite_spark.operators.stats import entropy, information_gain
    # the reference's restaurant fixture (test/infomation.cpp):
    # patrons feature has positive gain, a 50/50 target has entropy 1
    rows = list(zip([1, 2, 1, 2, 2, 1, 0, 1, 2, 2, 0, 2],
                    [1, 0, 1, 1, 0, 1, 0, 1, 0, 0, 0, 1]))
    df = spark.createDataFrame(rows, "feature int, target int")
    assert abs(entropy(df, "target") - 1.0) < 1e-9
    gain = information_gain(df, "feature", "target")
    assert 0.0 < gain < 1.0


def test_entropy_uniform(spark):
    from gqlite_spark.operators.stats import entropy
    df = spark.createDataFrame([(i % 4,) for i in range(64)], "x int")
    assert abs(entropy(df, "x") - 2.0) < 1e-9


# ------------------------------------------------------------------- scc

def test_scc_two_cycles_and_tail(spark):
    from gqlite_spark.operators.graph_algos import \
        strongly_connected_components
    # cycle {1,2,3}, cycle {4,5}, tail 3→4 (no back edge), isolated pair 6→7
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 7)],
        "src long, dst long")
    scc = {r["id"]: r["component"]
           for r in strongly_connected_components(e).collect()}
    assert scc[1] == scc[2] == scc[3] == 1
    assert scc[4] == scc[5] == 4
    assert scc[6] != scc[7]


# ----------------------------------------------------------- random walk

def test_random_walk_deterministic(spark):
    from gqlite_spark.operators.graph_algos import random_walk
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (3, 2)], "src long, dst long")
    starts = spark.createDataFrame([(1,), (2,)], "id long")
    w1 = {r["walk_id"]: r["path"]
          for r in random_walk(e, starts, steps=4, seed=9).collect()}
    w2 = {r["walk_id"]: r["path"]
          for r in random_walk(e, starts, steps=4, seed=9).collect()}
    assert w1 == w2  # reproducible
    for wid, path in w1.items():
        assert path[0] == wid and len(path) == 5
        # every step follows a real edge
        edges = {(1, 2), (1, 3), (2, 3), (3, 1), (3, 2)}
        for a, b in zip(path, path[1:]):
            assert (a, b) in edges


def test_random_walk_dead_end(spark):
    from gqlite_spark.operators.graph_algos import random_walk
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    starts = spark.createDataFrame([(1,)], "id long")
    [row] = random_walk(e, starts, steps=3).collect()
    assert row["path"] == [1, 2]  # walk stops at the sink


# --------------------------------------------------------------- geohash

def test_geohash_known_values():
    from gqlite_spark.functions.geohash import geohash_decode, geohash_encode
    # canonical example: Jutland lighthouse
    assert geohash_encode(10.40744, 57.64911, 11) == "u4pruydqqvj"
    assert geohash_encode(10.40744, 57.64911) == "u4pruy"
    lon, lat = geohash_decode("u4pruy")
    assert abs(lon - 10.40744) < 0.01 and abs(lat - 57.64911) < 0.01


def test_geohash_udf(spark):
    from gqlite_spark.functions.geohash import geohash_udf
    df = spark.createDataFrame([(10.40744, 57.64911), (-0.1278, 51.5074)],
                               "lon double, lat double")
    out = df.withColumn("gh", geohash_udf()("lon", "lat")).collect()
    assert out[0]["gh"] == "u4pruy"
    assert out[1]["gh"].startswith("gcpv")


# ------------------------------------------------- dedup/text spot checks

def test_exact_duplicates(spark):
    from gqlite_spark.operators.dedup import exact_duplicates
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string")
    out = {r["representative"]: r["n_copies"]
           for r in exact_duplicates(df).collect()}
    assert out == {1: 3, 2: 1}


def test_line_dedup_removes_boilerplate(spark):
    from gqlite_spark.operators.dedup import line_dedup
    df = spark.createDataFrame(
        [(1, "unique first line\ncookie banner\nbody one\n\nfooter legal"),
         (2, "cookie banner\nbody two\nfooter legal"),
         (3, "totally original\nnothing shared here"),
         (4, "cookie banner\ncookie banner\nonly banners")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    # shared lines (banner, footer) removed; empty separator line kept
    assert out[1]["text"] == "unique first line\nbody one\n"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (5, 2)
    assert out[2]["text"] == "body two"
    assert out[3]["text"] == "totally original\nnothing shared here"
    assert out[3]["n_removed"] == 0
    # in-document repeats count once for df, still removed everywhere
    assert out[4]["text"] == "only banners"
    assert out[4]["n_removed"] == 2


def test_line_dedup_all_removed_doc(spark):
    from gqlite_spark.operators.dedup import line_dedup
    df = spark.createDataFrame(
        [(1, "same"), (2, "same")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["text"] == "" and out[2]["text"] == ""
    assert out[1]["n_removed"] == 1


def test_ngram_jaccard_exact_value(spark):
    from gqlite_spark.operators.dedup import ngram_jaccard_pairs
    df = spark.createDataFrame([(1, "abcd"), (2, "abcd"), (3, "zzzz")],
                               "doc_id long, text string")
    rows = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(rows) == 1
    assert rows[0]["doc_a"] == 1 and rows[0]["doc_b"] == 2
    assert rows[0]["jaccard"] == 1.0


def test_minhash_finds_near_dups(spark):
    from gqlite_spark.operators.dedup import minhash_lsh_pairs
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"
    far = " ".join(f"x{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)],
                               "doc_id long, text string")
    rows = minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]


def test_near_dup_clusters_transitive_chain(spark):
    """A~B and B~C must land in one cluster with the min-id kept, even
    when A~C alone is below threshold; isolated docs stay out."""
    from gqlite_spark.operators.dedup import near_dup_clusters
    words = [f"w{i}" for i in range(60)]
    a = " ".join(words)
    b = " ".join(words[6:] + [f"b{i}" for i in range(6)])    # ~B high
    c = " ".join(words[12:] + [f"b{i}" for i in range(6)]
                 + [f"c{i}" for i in range(6)])              # ~B high, ~A lower
    lone = " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame([(1, a), (2, b), (3, c), (9, lone)],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           near_dup_clusters(df, threshold=0.6).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r["cluster_rep"] == 1 for r in out.values())
    assert out[1]["keep"] and not out[2]["keep"] and not out[3]["keep"]


def test_simhash_identical_distance_zero(spark):
    from gqlite_spark.operators.dedup import simhash_near_pairs
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "totally different words here")], "doc_id long, text string")
    rows = simhash_near_pairs(df, max_hamming=0).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows] == [(1, 2, 0)]


def test_pq_encode_and_topk(spark):
    """PQ codes are deterministic (codebook vectors encode to their own
    code with distance 0) and ADC search surfaces the exact top match."""
    from gqlite_spark.operators.similarity import (pq_codebooks, pq_encode,
                                                   pq_topk)
    import math
    rows = []
    for i in range(40):
        v = [math.sin(0.1 * i * (d + 1)) for d in range(8)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(df, m=2, ksub=4)
    assert len(books) == 2 and len(books[0]) == 4 and len(books[0][0]) == 4
    codes = {r["id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert len(codes) == 40 and all(len(c) == 2 for c in codes.values())
    # codebook source vectors must encode to their own code exactly
    for i in range(4):
        assert codes[i] == [i, i], codes[i]
    # repeat-encode determinism
    again = {r["id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert codes == again
    # query with vector 7 itself: exact re-rank puts 7 first, cosine 1.0
    out = pq_topk(df, rows[7][1], books, k=3, candidates=10).collect()
    assert out[0]["id"] == 7 and out[0]["cosine"] == 1.0
    with pytest.raises(ValueError):
        pq_codebooks(df, m=3, ksub=4)     # 8 % 3 != 0


def test_cosine_topk_self_first(spark):
    from gqlite_spark.operators.similarity import cosine_topk
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    rows = cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert rows[0]["id"] == 1 and rows[0]["cosine"] == 1.0
    assert rows[1]["id"] == 2


def test_ann_lsh_contains_true_nn(spark):
    from gqlite_spark.operators.similarity import ann_topk
    import math
    vecs = [(i, [math.cos(i / 10), math.sin(i / 10)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = ann_topk(df, [math.cos(0.05), math.sin(0.05)], dim=2, k=3,
                   n_planes=2).collect()
    assert out  # bucket nonempty, returns candidates ranked by true cosine
    assert out[0]["id"] in (0, 1)


def test_simhash_blocking_exact_recall(spark):
    """Pigeonhole guarantee: pairs at hamming 4-6 spread across the OLD
    4x15-bit chunks (one flipped bit per chunk — the r1 blind spot) must be
    found, and the blocked output must equal brute-force all-pairs."""
    import itertools
    from gqlite_spark.operators.dedup import simhash_pairs_from_sig
    sigs = [
        (1, 0),
        (2, (1 << 0) | (1 << 15) | (1 << 30) | (1 << 45)),  # hamming 4 vs 1
        (3, (1 << 2) | (1 << 17) | (1 << 31) | (1 << 46) | (1 << 59)),  # 5 vs 1
        (4, (1 << 59)),                                      # hamming 1 vs 1
        (5, 0x0FFFFFFFFFFFFFF),                              # far from all
    ]
    df = spark.createDataFrame(sigs, "id long, simhash long")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs_from_sig(df, max_hamming=6).collect()}
    # brute-force expectation
    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sigs, 2):
        h = bin(sa ^ sb).count("1")
        if h <= 6:
            want[(ia, ib)] = h
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 4  # the old blind spot


def test_embedding_near_dups_exact_path(spark):
    from gqlite_spark.operators.dedup import embedding_near_dups
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    rows = embedding_near_dups(df, threshold=0.99).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]


def test_embedding_near_dups_bucketed_path(spark):
    """Above brute_force_limit: LSH-bucketed candidates + exact verify.
    Planted near-identical pairs are found; the plan joins on bucket keys
    (no cartesian product)."""
    import math
    from gqlite_spark.operators.dedup import embedding_near_dups
    vecs = []
    for i in range(60):
        a = i / 3.0
        v = [math.cos(a), math.sin(a), math.cos(2 * a), math.sin(2 * a)]
        vecs.append((2 * i, v))
        # planted near-dup: tiny perturbation of the same direction
        vecs.append((2 * i + 1, [x + 0.0005 for x in v]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = embedding_near_dups(df, threshold=0.9999, brute_force_limit=10,
                              n_planes=4, n_tables=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    found = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(60)}
    # SRP recall at cosine≈1 with 4 tables x 4 planes is ~1; require ≥90%
    assert len(found & planted) >= 54
    # precision is exact: nothing below threshold sneaks through
    assert all(r["cosine"] >= 0.9999 for r in out.collect())


def test_multimodal_meta_plumbing(spark):
    from gqlite_spark.operators.multimodal import extract_meta, to_payload
    df = spark.createDataFrame([(1, "hello world"), (2, "foo")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in extract_meta(to_payload(df)).collect()}
    assert out[1]["media_type"] == "image/fake"
    assert 16 <= out[1]["width"] < 80
    # deterministic across runs
    again = {r["doc_id"]: r for r in extract_meta(to_payload(df)).collect()}
    assert out == again


def test_resize_images_fit_math_and_reparseable_output(spark):
    """resize_images: output dims follow the integer fit-longest-side
    formula, the output payload is REAL bytes of the same format that
    the header decoder re-parses at exactly the target dims, and frames
    survive the transform."""
    from gqlite_spark.operators.multimodal import (decode_image_headers,
                                                   resize_images,
                                                   synth_image)
    rows = [(1, synth_image("png", 64, 48, 3)),
            (2, synth_image("gif", 10, 40, 2)),
            (3, synth_image("bmp", 8, 8, 1)),
            (4, synth_image("jpeg", 100, 25, 1))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in resize_images(df, max_side=32).collect()}
    #                    (ow, oh) -> fit-into-32
    expect = {1: (64, 48, 32, 24), 2: (10, 40, 8, 32),
              3: (8, 8, 8, 8), 4: (100, 25, 32, 8)}
    for i, (ow, oh, w, h) in expect.items():
        r = out[i]
        assert (r["orig_width"], r["orig_height"],
                r["width"], r["height"]) == (ow, oh, w, h), i
        media, gw, gh, gfr = decode_image_headers(bytes(r["payload"]))
        assert media == r["media_type"] and (gw, gh) == (w, h)
    assert decode_image_headers(bytes(out[1]["payload"]))[3] == 3


def test_sample_frames_spacing_and_fanout(spark):
    """sample_frames: min(n, n_frames) rows per blob, indices
    frames*j//k (always include 0, never repeat), md5 placeholder refs
    deterministic."""
    import hashlib
    from gqlite_spark.operators.multimodal import (sample_frames,
                                                   synth_image)
    rows = [(1, synth_image("png", 4, 4, 5)),   # 5 frames, sample 2
            (2, synth_image("gif", 4, 4, 2)),   # 2 frames, sample 2
            (3, synth_image("bmp", 4, 4, 1))]   # 1 frame
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = sample_frames(df, n=2).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(
            (r["frame_idx"], r["frame_ref"], r["n_frames"]))
    assert sorted(i for i, _, _ in got[1]) == [0, 2]   # 5*0//2, 5*1//2
    assert sorted(i for i, _, _ in got[2]) == [0, 1]
    assert [i for i, _, _ in got[3]] == [0]
    for doc, frames in got.items():
        for idx, ref, _ in frames:
            assert ref == hashlib.md5(f"{doc}:{idx}".encode()).hexdigest()


def test_extract_features_is_exact_byte_histogram(spark):
    """extract_features: bin counts equal a Python-computed byte
    histogram of the payload, total == n_bytes, works on arbitrary
    binary (not just text)."""
    from gqlite_spark.operators.multimodal import extract_features
    payloads = [(1, bytes(range(256))), (2, b"\x00" * 7 + b"\xff" * 3)]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in extract_features(df, 16).collect()}
    assert list(out[1]["features"]) == [16] * 16
    assert out[1]["n_bytes"] == 256
    assert list(out[2]["features"]) == [7] + [0] * 14 + [3]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        extract_features(df, 15)


def test_multimodal_real_decode_requires_pil():
    """Without PIL, decode_image must refuse loudly (documented stub);
    the real-decode path is covered by test_multimodal_real_decode."""
    import importlib.util

    from gqlite_spark.operators.multimodal import decode_image
    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("PIL present; the real-decode test covers this")
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n")


def test_decode_image_headers_real_bytes():
    """Stdlib header decoder on REAL image bytes of all four formats —
    fully-valid PNG (zlib IDAT + CRCs) and BMP, spec-correct GIF/JPEG —
    plus format edge cases: APNG frame counts, multi-frame GIF, top-down
    (negative-height) BMP, and loud failure on garbage.  This replaces
    the PIL-gated skip (VERDICT r4 #2): real decode now executes in this
    container."""
    import struct as _struct

    from gqlite_spark.operators.multimodal import (decode_image_headers,
                                                   synth_image)
    cases = [("png", 3, 2, 1), ("png", 64, 48, 3), ("gif", 17, 5, 1),
             ("gif", 2, 2, 3), ("bmp", 7, 48, 1), ("jpeg", 640, 480, 1)]
    for fmt, w, h, fr in cases:
        media, gw, gh, gfr = decode_image_headers(synth_image(fmt, w, h, fr))
        assert (media, gw, gh, gfr) == (f"image/{fmt}", w, h, fr)
    # PNG is a fully valid file: IDAT inflates to h filtered rows
    import zlib as _zlib
    png = synth_image("png", 5, 4, 1)
    idat_off = png.index(b"IDAT") + 4
    (idat_len,) = _struct.unpack(">I", png[idat_off - 8:idat_off - 4])
    raw = _zlib.decompress(png[idat_off:idat_off + idat_len])
    assert len(raw) == 4 * (5 + 1)              # h rows of filter byte + w
    # top-down BMPs store a negative height; report the magnitude
    bmp = bytearray(synth_image("bmp", 6, 9, 1))
    bmp[22:26] = _struct.pack("<i", -9)
    assert decode_image_headers(bytes(bmp)) == ("image/bmp", 6, 9, 1)
    with pytest.raises(ValueError):
        decode_image_headers(b"not an image")
    with pytest.raises(ValueError):
        decode_image_headers(b"\xff\xd8\xff\xe0\x00\x02")  # JPEG, no SOF


def test_decode_media_headers_real_bytes():
    """Stdlib A/V container decoder on REAL WAV/MP4 bytes: RIFF chunk
    walk (incl. odd-length padding and extra chunks before fmt) and ISO
    BMFF box walk; loud failure on garbage/truncation."""
    import struct as _struct

    from gqlite_spark.operators.multimodal import (decode_media_headers,
                                                   synth_media)
    w = synth_media("wav", sample_rate=44100, channels=2, n_samples=44100)
    assert decode_media_headers(w) == ("audio/wav", 1000, 44100, 2, 0, 0)
    # integer-floor duration: 123 samples @ 11 kHz -> 11 ms
    w2 = synth_media("wav", sample_rate=11000, channels=1, n_samples=123)
    assert decode_media_headers(w2)[1] == 123 * 1000 // 11000
    # an odd-length LIST chunk before fmt must be skipped with padding
    body = w[12:]                               # fmt + data chunks
    extra = b"LIST" + _struct.pack("<I", 5) + b"INFOx" + b"\x00"
    padded = b"RIFF" + _struct.pack("<I", 4 + len(extra) + len(body)) \
        + b"WAVE" + extra + body
    assert decode_media_headers(padded)[2] == 44100
    m = synth_media("mp4", duration_ms=90001, width=1920, height=1080)
    assert decode_media_headers(m) == ("video/mp4", 90001, 0, 0, 1920, 1080)
    with pytest.raises(ValueError):
        decode_media_headers(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data
    with pytest.raises(ValueError):
        decode_media_headers(b"garbage bytes here")
    # malformed-stream contract is ValueError, never struct.error /
    # ZeroDivisionError (ADVICE r5): truncated fmt chunk, short fmt
    # length, zero channels/bits/rate
    with pytest.raises(ValueError):
        decode_media_headers(w[:20])            # fmt chunk cut mid-header
    short_fmt = (b"RIFF" + _struct.pack("<I", 12) + b"WAVE"
                 + b"fmt " + _struct.pack("<I", 8) + b"\x00" * 8)
    with pytest.raises(ValueError):
        decode_media_headers(short_fmt)
    zeroed = bytearray(w)
    zeroed[22:24] = b"\x00\x00"                 # channels = 0
    with pytest.raises(ValueError):
        decode_media_headers(bytes(zeroed))
    # sub-byte frames (ADVICE r6 #4): 4-bit mono -> ch * bits // 8 == 0
    # must raise ValueError, not ZeroDivisionError
    subbyte = bytearray(w2)                     # mono fixture
    subbyte[34:36] = _struct.pack("<H", 4)      # bits-per-sample = 4
    with pytest.raises(ValueError, match="frame smaller"):
        decode_media_headers(bytes(subbyte))
    # ISO BMFF size-1 (largesize) and size-0 (to-EOF) boxes parse, not
    # silently step 8 bytes: rebuild the moov with a largesize header
    moov_payload = m[m.index(b"moov") - 4 + 8:]
    pre = m[:m.index(b"moov") - 4]
    large = (_struct.pack(">I", 1) + b"moov"
             + _struct.pack(">Q", 16 + len(moov_payload)) + moov_payload)
    assert decode_media_headers(pre + large)[4:6] == (1920, 1080)
    # size-0 top-level box (extends to EOF) must terminate, not loop
    tail0 = _struct.pack(">I", 0) + b"free" + b"\x00" * 4
    assert decode_media_headers(m + tail0)[0] == "video/mp4"


def test_multimodal_av_meta_plumbing(spark):
    """synth_media_payloads → extract_av_meta round trip through the
    Arrow-batched mapInPandas path — the multimodal_av_meta contract
    query runs this shape."""
    from gqlite_spark.operators.multimodal import (extract_av_meta,
                                                   synth_media_payloads)
    docs = spark.createDataFrame([(i, f"x{i}", 10 + i) for i in range(8)],
                                 "doc_id long, text string, n_chars long")
    metas = {r["doc_id"]: r for r in
             extract_av_meta(synth_media_payloads(docs)).collect()}
    assert len(metas) == 8
    for i in range(8):
        r, s = metas[i], 10 + i
        if i % 2 == 0:
            assert r["media_type"] == "audio/wav"
            assert r["sample_rate"] == 8000 + (s % 8) * 1000
            assert r["channels"] == (i % 4) // 2 + 1
            assert r["duration_ms"] == (i % 500 + 1) * 1000 \
                // (8000 + (s % 8) * 1000)
            assert (r["width"], r["height"]) == (0, 0)
        else:
            assert r["media_type"] == "video/mp4"
            assert r["duration_ms"] == i % 90000 + 1
            assert (r["width"], r["height"]) == (s % 320 + 16, i % 240 + 16)
            assert (r["sample_rate"], r["channels"]) == (0, 0)


def test_multimodal_meta_real_decode(spark):
    """extract_meta(decoder=decode_image_headers) reads real image bytes
    through the same Arrow-batched mapInPandas plumbing the fake decoder
    exercises — the contract query multimodal_meta runs this shape."""
    from gqlite_spark.operators.multimodal import (decode_image_headers,
                                                   extract_meta,
                                                   synth_image,
                                                   synth_image_payloads)

    png = synth_image("png", 20, 12, 1)
    df = spark.createDataFrame(
        [(1, bytearray(png), "image/png", len(png))],
        "doc_id long, payload binary, media_type string, n_bytes long")
    row = extract_meta(df, decoder=decode_image_headers).collect()[0]
    assert (row["media_type"], row["width"], row["height"],
            row["n_frames"]) == ("image/png", 20, 12, 1)
    # synth payload stage: formats cycle, dims/frames follow the formulas
    docs = spark.createDataFrame([(i, f"x{i}", 10 + i) for i in range(8)],
                                 "doc_id long, text string, n_chars long")
    metas = {r["doc_id"]: r for r in
             extract_meta(synth_image_payloads(docs),
                          decoder=decode_image_headers).collect()}
    for i in range(8):
        fmt = ("png", "gif", "bmp", "jpeg")[i % 4]
        assert metas[i]["media_type"] == f"image/{fmt}"
        assert metas[i]["width"] == (10 + i) % 64 + 1
        assert metas[i]["height"] == i % 48 + 1
        assert metas[i]["n_frames"] == (i % 3 + 1 if i % 4 in (0, 1) else 1)


def test_knn_auto_paths(spark):
    from gqlite_spark.operators.similarity import knn_auto
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    exact = knn_auto(df, [1.0, 0.0], k=2)
    assert [r["id"] for r in exact.collect()] == [1, 2]
    # force the LSH path with a tiny threshold: still returns ranked rows
    approx = knn_auto(df, [1.0, 0.0], k=2, brute_force_limit=1)
    rows = approx.collect()
    assert rows and rows[0]["id"] == 1


def test_decision_tree(spark):
    """Distributed decision tree (reference DecisionTree.cpp stub →
    Spark ML): learns a separable rule perfectly."""
    from gqlite_spark.operators.ml import fit_decision_tree, tree_accuracy
    rows = [(float(i % 10), float((i * 3) % 7), 1 if i % 10 >= 5 else 0)
            for i in range(200)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
    model, preds = fit_decision_tree(df, ["f1", "f2"], "y", max_depth=4)
    assert tree_accuracy(preds, "y") == 1.0
    assert model.depth <= 4


def test_ann_index_save_load_roundtrip(spark, tmp_path):
    """Persisted LSH bucket index (HNSW.cpp:282-328 persistence parity):
    queries against the saved index skip corpus-wide bucket recomputation
    and return the same results as the inline path."""
    import math
    from gqlite_spark.operators.similarity import (ann_topk, load_index,
                                                   save_ann_index,
                                                   topk_indexed)
    vecs = [(i, [math.cos(i / 7), math.sin(i / 7), math.cos(i / 3),
                 math.sin(i / 3)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "annidx")
    save_ann_index(df, path, dim=4, n_planes=4, n_tables=2)
    idx, params = load_index(spark, path, "lsh")
    q = [math.cos(0.1), math.sin(0.1), math.cos(0.23), math.sin(0.23)]
    via_index = topk_indexed(df, q, idx, params, k=5).collect()
    inline = ann_topk(df, q, dim=4, k=5, n_planes=4, n_tables=2).collect()
    assert [(r["id"], r["cosine"]) for r in via_index] == \
           [(r["id"], r["cosine"]) for r in inline]
    # the index plan scans the persisted bucket parquet with the query's
    # (table, bucket) keys PUSHED to the scan — no corpus projections
    plan = topk_indexed(df, q, idx, params, k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "table:int,bucket:bigint" in plan          # index scan schema
    assert "EqualTo(bucket" in plan                   # pushed bucket filter


def test_ann_index_centered(spark, tmp_path):
    from gqlite_spark.operators.similarity import (load_index,
                                                   save_ann_index,
                                                   topk_indexed)
    # anisotropic (all-positive) corpus: centered index still finds the nn
    vecs = [(i, [1.0 + (i % 10) / 10, 2.0 + (i % 7) / 7, 3.0]) for i in range(100)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "cidx")
    save_ann_index(df, path, dim=3, n_planes=3, n_tables=4, center=True)
    idx, params = load_index(spark, path, "lsh")
    assert params["center"] and params["offsets"]
    q = [1.5, 2.5, 3.0]
    rows = topk_indexed(df, q, idx, params, k=3).collect()
    assert rows  # candidates found despite anisotropy


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_df drops hot shingles from BLOCKING only: a pair sharing rare
    shingles survives with its exact jaccard; a pair sharing ONLY the hot
    shingle is excluded from candidates (documented recall trade)."""
    from gqlite_spark.operators.dedup import ngram_jaccard_pairs
    hot = "zzz"  # a 3-gram present in every doc
    # per-doc tail "ababab…" with a distinct letter pair: no trigram shared
    # between different docs beyond the hot one
    rows = [(i, hot + (chr(97 + i // 5) + chr(104 + i % 5)) * 4)
            for i in range(25)]
    rows.append((100, hot + "shared-rare-text"))
    rows.append((101, hot + "shared-rare-text"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_jaccard_pairs(df, threshold=0.9, max_df=10).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == \
        [(100, 101, 1.0)]
    # without the cap the same result at this threshold (hot-only pairs
    # sit far below 0.9) — exactness of the default path
    base = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in base] == \
        [(100, 101, 1.0)]


def test_ivf_assignment_is_true_argmax(spark):
    """Every vector lands in the list of its max-inner-product centroid
    (ties -> smallest cid)."""
    import math
    from gqlite_spark.operators.similarity import ivf_assign, ivf_centroids
    vecs = [(i, [math.cos(i / 6), math.sin(i / 6)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, nlist=4)
    got = {r["id"]: r["list_id"] for r in ivf_assign(df, cents).collect()}
    for i, v in vecs:
        dots = [(sum(a * b for a, b in zip(v, cv)), cid) for cid, cv in cents]
        best = max(dots, key=lambda t: (t[0], -t[1]))[1]
        assert got[i] == best, i


def _half_lattice(n_rows, dim):
    """Tie-heavy vectors: a half-integer lattice in [-2, 2], so many rows
    sit exactly equidistant from (or equally aligned with) two or more
    lattice centroids — the rows a BLAS-only ranking can split
    differently from the in-order fold."""
    return [(i, [((i * 7 + j * 5 + i // 9) % 9 - 4) / 2.0
                 for j in range(dim)]) for i in range(n_rows)]


def test_ivf_assign_vectorized_matches_expression(spark):
    """The kernel's list ids are the in-order fold's nearest centroid —
    the expression ``dot_sql`` / ``sq_l2_sql`` compute and the driver's
    ``probe_lists`` replays — on tie-heavy data, ties → smallest cid,
    at nlist 12 and 200."""
    from gqlite_spark.operators.similarity import (ivf_assign,
                                                   ivf_centroids,
                                                   probe_lists)
    vecs = _half_lattice(300, 3)
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    lattice = [(c, [((c * 3 + j * 7) % 9 - 4) / 2.0 for j in range(3)])
               for c in range(200)]
    for cents in (ivf_centroids(df, nlist=12), lattice):
        for metric in ("ip", "l2"):
            got = {r["id"]: r["list_id"]
                   for r in ivf_assign(df, cents, metric=metric).collect()}
            for i, v in vecs:
                assert got[i] == probe_lists(v, cents, 1, metric)[0], \
                    (len(cents), metric, i)


@pytest.mark.parametrize("metric", ["ip", "l2"])
def test_ivf_assign_settles_midpoint_ties_like_probe_lists(spark, metric):
    """At nlist 130, rows at the midpoint of two 0.1-grid centroids (4-d)
    get the list ``probe_lists`` names.  A matmul ranking alone can
    split such near-ties differently from the in-order fold, and an
    nprobe-1 self-query would then miss its own list."""
    from gqlite_spark.operators.similarity import ivf_assign, probe_lists
    cents = [(c, [((c * 7 + j * 11) % 21 - 10) / 10.0 for j in range(4)])
             for c in range(130)]
    vecs = []
    for i in range(2000):
        a, b = cents[i % 130][1], cents[(i * 17 + 5) % 130][1]
        vecs.append((i, [(x + y) / 2.0 for x, y in zip(a, b)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["id"]: r["list_id"]
           for r in ivf_assign(df, cents, metric=metric).collect()}
    wrong = [i for i, v in vecs
             if got[i] != probe_lists(v, cents, 1, metric)[0]]
    assert wrong == []


def test_ivf_topk_finds_near_neighbor(spark):
    import math
    from gqlite_spark.operators.similarity import ivf_centroids, ivf_topk
    # i/20 keeps all angles < 2*pi (no wrap-around near the query)
    vecs = [(i, [math.cos(i / 20), math.sin(i / 20)]) for i in range(80)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, nlist=8)
    out = ivf_topk(df, [math.cos(0.03), math.sin(0.03)], cents,
                   nprobe=3, k=3).collect()
    assert out and out[0]["id"] in (0, 1)


def test_ivf_index_save_load_roundtrip(spark, tmp_path):
    """Persisted inverted file: partition-pruned scan (list_id partitions)
    returns the same top-k as the inline path."""
    import math
    from gqlite_spark.operators.similarity import (
        ivf_centroids, ivf_topk, load_index, save_ivf_index,
        topk_indexed)
    vecs = [(i, [math.cos(i / 7), math.sin(i / 7), math.cos(i / 3),
                 math.sin(i / 3)]) for i in range(150)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfidx")
    save_ivf_index(df, path, nlist=6)
    idx, params = load_index(spark, path, "ivf")
    q = [math.cos(0.1), math.sin(0.1), math.cos(0.2), math.sin(0.2)]
    via_index = topk_indexed(df, q, idx, params, nprobe=3, k=5).collect()
    cents = ivf_centroids(df, nlist=6)
    inline = ivf_topk(df, q, cents, nprobe=3, k=5).collect()
    assert [(r["id"], r["cosine"]) for r in via_index] == \
           [(r["id"], r["cosine"]) for r in inline]


def test_pq_index_save_load_roundtrip(spark, tmp_path):
    """Persisted PQ codes table: ADC ranking over (id, codes) + exact
    re-rank returns the same top-k as the index-free pq_topk when both
    consider enough candidates."""
    import math
    from gqlite_spark.operators.similarity import (
        load_index, pq_codebooks, pq_topk, save_pq_index, topk_indexed)
    vecs = [(i, [math.cos(i / 7), math.sin(i / 7), math.cos(i / 3),
                 math.sin(i / 3)]) for i in range(150)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "pqidx")
    save_pq_index(df, path, m=2, ksub=8)
    codes, params = load_index(spark, path, "pq")
    q = [math.cos(0.1), math.sin(0.1), math.cos(0.2), math.sin(0.2)]
    via_index = topk_indexed(df, q, codes, params, k=5,
                             candidates=40).collect()
    books = pq_codebooks(df, m=2, ksub=8)
    inline = pq_topk(df, q, books, k=5, candidates=40).collect()
    assert [(r["id"], r["cosine"]) for r in via_index] == \
           [(r["id"], r["cosine"]) for r in inline]


def test_ivfpq_index_roundtrip_exact_when_full_probe(spark, tmp_path):
    """Persisted IVFPQ index: with every list probed and candidates
    covering the corpus, the exact re-rank makes the result identical
    to brute-force cosine top-k (the approximation only ever narrows
    the candidate set)."""
    import math
    from gqlite_spark.operators.similarity import (
        cosine_topk, load_index, save_ivfpq_index, topk_indexed)
    vecs = [(i, [math.cos(i / 7), math.sin(i / 7), math.cos(i / 3),
                 math.sin(i / 3)]) for i in range(150)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpqidx")
    save_ivfpq_index(df, path, nlist=6, m=2, ksub=8)
    idx, params = load_index(spark, path, "ivfpq")
    q = [math.cos(0.1), math.sin(0.1), math.cos(0.2), math.sin(0.2)]
    via_index = topk_indexed(df, q, idx, params, nprobe=6, k=5,
                             candidates=150).collect()
    exact = cosine_topk(df, q, 5).collect()
    assert [(r["id"], r["cosine"]) for r in via_index] == \
           [(r["id"], r["cosine"]) for r in exact]


def test_ivfpq_probe_is_partition_pruned(spark, tmp_path):
    """The IVFPQ probe reads only the probed list partitions
    (PartitionFilters in the physical plan) — the scan is pruned at the
    source, not filtered after a full read — and the index rows carry
    codes, never vectors."""
    import math
    from gqlite_spark.operators.similarity import (load_index,
                                                   probe_lists,
                                                   save_ivfpq_index)
    from pyspark.sql import functions as F
    vecs = [(i, [math.cos(i / 7), math.sin(i / 7), math.cos(i / 3),
                 math.sin(i / 3)]) for i in range(150)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpqidx2")
    save_ivfpq_index(df, path, nlist=6, m=2, ksub=8)
    idx, params = load_index(spark, path, "ivfpq")
    assert set(idx.columns) == {"id", "codes", "list_id"}
    q = [1.0, 0.0, 1.0, 0.0]
    lists = probe_lists(q, params["centroids"], 2, "l2")
    pruned = idx.where(F.col("list_id").isin([int(x) for x in lists]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    # and the pruned read returns a strict subset of the index
    assert 0 < pruned.count() < idx.count()


def test_ivfpq_works_on_parquet_corpus(spark, tmp_path):
    """IVFPQ end-to-end against a file-backed corpus (the deployment
    shape): broadcast-join re-rank (the measured fetch winner — see
    topk_indexed docstring / PLANS.md 'IVFPQ re-rank fetch') matches
    brute force at full probe, and the candidate side of the join is a
    broadcast exchange, not a shuffle."""
    import math
    from gqlite_spark.operators.similarity import (
        cosine_topk, load_index, save_ivfpq_index, topk_indexed)
    vecs = [(i, [math.cos(i / 7), math.sin(i / 7), math.cos(i / 3),
                 math.sin(i / 3)]) for i in range(150)]
    mem = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cpath = str(tmp_path / "corpus.parquet")
    mem.write.parquet(cpath)
    df = spark.read.parquet(cpath)
    path = str(tmp_path / "ivfpqidx3")
    save_ivfpq_index(df, path, nlist=6, m=2, ksub=8)
    idx, params = load_index(spark, path, "ivfpq")
    q = [math.cos(0.1), math.sin(0.1), math.cos(0.2), math.sin(0.2)]
    res = topk_indexed(df, q, idx, params, nprobe=6, k=5,
                       candidates=40)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    got = [(r["id"], r["cosine"]) for r in res.collect()]
    exact = [(r["id"], r["cosine"])
             for r in cosine_topk(df, q, 5).collect()]
    assert got == exact


def test_pq_encode_pandas_matches_expression(spark):
    """PQ codes are, per sub-space, the codeword nearest by the in-order
    squared-L2 fold (ties → smallest code), checked code-for-code
    against a loop fold on tie-heavy data at m·ksub 32 and 640; a null
    vector keeps null codes."""
    from gqlite_spark.operators.similarity import (_pq_codes_col,
                                                   pq_codebooks, pq_encode)
    vecs = _half_lattice(300, 8)
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    def fold_codes(v, books):
        dsub = len(books[0][0])
        codes = []
        for j, book in enumerate(books):
            x = v[j * dsub:(j + 1) * dsub]
            d2 = []
            for cent in book:
                acc = 0.0
                for a, b in zip(x, cent):
                    acc = acc + (a - b) * (a - b)
                d2.append(acc)
            codes.append(int(np.argsort(d2, kind="stable")[0]))
        return codes

    lattice = [[[((c * 5 + j * 3 + i) % 9 - 4) / 2.0 for i in range(2)]
                for c in range(160)] for j in range(4)]
    for books in (pq_codebooks(df, m=4, ksub=8), lattice):
        got = {r["id"]: list(r["codes"])
               for r in pq_encode(df, books).collect()}
        for i, v in vecs:
            assert got[i] == fold_codes(v, books), (len(books[0]), i)
    nulls = spark.createDataFrame([(999, None)], df.schema)
    assert nulls.select(_pq_codes_col(pq_codebooks(df, m=2, ksub=4),
                                      "embedding")).first()[0] == [None, None]


def test_pq_refine_improves_quantization(spark):
    """Lloyd-refined codebooks reduce (or keep) total ADC quantization
    error vs the raw sampling codebooks."""
    import math
    from gqlite_spark.operators.similarity import pq_codebooks, pq_refine

    def sse(books, vecs):
        dsub = len(books[0][0])
        tot = 0.0
        for _, v in vecs:
            for j, book in enumerate(books):
                sub = v[j * dsub:(j + 1) * dsub]
                tot += min(sum((a - b) ** 2 for a, b in zip(sub, cent))
                           for cent in book)
        return tot

    vecs = [(i, [math.cos(i / 5) + (i % 3), math.sin(i / 5),
                 math.cos(i / 11), math.sin(i / 11) - (i % 2)])
            for i in range(120)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    raw = pq_codebooks(df, m=2, ksub=4)
    refined = pq_refine(df, raw, iters=3)
    assert sse(refined, vecs) <= sse(raw, vecs) + 1e-9


def test_ivf_lloyd_refine_improves_quantization(spark):
    """Refined centroids reduce (or keep) total within-list quantization
    error vs the raw sampling quantizer."""
    import math
    from gqlite_spark.operators.similarity import ivf_centroids, lloyd_refine

    def sse(cents, vecs):
        tot = 0.0
        for _, v in vecs:
            tot += min(sum((a - b) ** 2 for a, b in zip(v, cv))
                       for _, cv in cents)
        return tot

    vecs = [(i, [math.cos(i / 5) + (i % 3), math.sin(i / 5)])
            for i in range(90)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    raw = ivf_centroids(df, nlist=3)
    refined = lloyd_refine(df, raw, iters=3)
    assert sse(refined, vecs) <= sse(raw, vecs) + 1e-9


def test_fused_ivfpq_refine_matches_separate_loops(spark, tmp_path):
    """save_ivfpq_index refines its centroids and codebooks in ONE
    aggregation per Lloyd iteration; the result equals lloyd_refine
    followed by pq_refine on the same data (within float summation
    order)."""
    import math

    from gqlite_spark.operators.similarity import (ivf_centroids,
                                                   load_index_params,
                                                   lloyd_refine,
                                                   pq_codebooks, pq_refine,
                                                   save_ivfpq_index)
    vecs = [(i, [math.cos(i / 5) + (i % 3), math.sin(i / 5),
                 math.cos(i / 11), math.sin(i / 11) - (i % 2)])
            for i in range(120)]
    df = spark.createDataFrame(vecs,
                               "vec_id long, embedding array<double>").cache()
    path = str(tmp_path / "fused")
    try:
        save_ivfpq_index(df, path, nlist=3, m=2, ksub=4, refine_iters=2)
        cents = lloyd_refine(df, ivf_centroids(df, 3), 2, metric="l2")
        books = pq_refine(df, pq_codebooks(df, m=2, ksub=4), 2)
    finally:
        df.unpersist()
    params = load_index_params(spark, path, "ivfpq")
    assert [cid for cid, _ in params["centroids"]] == [0, 1, 2]
    got = [x for _, cv in params["centroids"] for x in cv] + [
        x for book in params["books"] for cv in book for x in cv]
    want = [x for _, cv in cents for x in cv] + [
        x for book in books for cv in book for x in cv]
    assert len(got) == len(want) == 3 * 4 + 2 * 4 * 2
    assert max(abs(a - b) for a, b in zip(got, want)) < 1e-9
    raw = ivf_centroids(df, 3)
    assert cents != raw          # the refinement moved the centroids


def test_index_sidecar_records_fitted_sizes(spark, tmp_path, db):
    """On a corpus smaller than the requested nlist / ksub, the sidecar
    and {vindex} report the fitted sizes (one centroid / codeword per
    vector), not the requested ones."""
    from gqlite_spark.operators.similarity import (load_index_params,
                                                   save_ivf_index,
                                                   save_pq_index)
    df = spark.createDataFrame(
        [(i, [float(i), float(i % 7), 1.0, -float(i % 3)])
         for i in range(60)], "vec_id long, embedding array<double>")
    save_ivf_index(df, str(tmp_path / "ivf"), nlist=130)
    ivf = load_index_params(spark, str(tmp_path / "ivf"), "ivf")
    assert ivf["nlist"] == len(ivf["centroids"]) == 60
    save_pq_index(df, str(tmp_path / "pq"), m=4, ksub=200, refine_iters=0)
    pq = load_index_params(spark, str(tmp_path / "pq"), "pq")
    assert pq["ksub"] == len(pq["books"][0]) == 60 and pq["m"] == 4
    db.exec("{create: 'fit', group: ['v']};")
    db.catalog.graphs["fit"].group("v").register_df(
        df.withColumnRenamed("vec_id", "id"))
    for pq_opt in ("", " pq: true, m: 2, ksub: 4,"):
        r = db.exec("{vindex: 'v', in: 'fit', on: 'embedding',"
                    f"{pq_opt} path: '{tmp_path / 'fit'}', nlist: 100}};")[0]
        assert r.error is None, r.error
        assert r.rows == [[60, 60]]


# --------------------------------------------------------------------------
# sampling / quantiles / decontamination
# --------------------------------------------------------------------------

def test_hash_sample_membership_is_md5_exact(spark):
    """Selected ids are exactly those whose md5 hex prefix is under the
    threshold (verified against hashlib), and reruns are identical."""
    import hashlib
    from gqlite_spark.operators.sampling import hash_sample
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    got = sorted(r["doc_id"] for r in hash_sample(df, rate=0.2).collect())
    exp = [i for i in range(500)
           if hashlib.md5(str(i).encode()).hexdigest()[:8] < format(
               int(0.2 * 16 ** 8), "08x")]
    assert got == exp
    assert sorted(r["doc_id"] for r in hash_sample(df, rate=0.2).collect()) == exp


def test_hash_sample_salts_give_independent_splits(spark):
    from gqlite_spark.operators.sampling import hash_sample
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r["doc_id"] for r in hash_sample(df, rate=0.3, salt="train").collect()}
    b = {r["doc_id"] for r in hash_sample(df, rate=0.3, salt="eval").collect()}
    assert a != b
    # both near the target rate (md5 uniformity; wide tolerance)
    assert 0.2 < len(a) / 2000 < 0.4 and 0.2 < len(b) / 2000 < 0.4


def test_stratified_sample_rates(spark):
    import hashlib
    from gqlite_spark.operators.sampling import stratified_sample
    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {r["doc_id"] for r in stratified_sample(
        df, "lang", {"en": 0.5}, default_rate=0.1).collect()}
    for i, lang in rows:
        thr = format(int((0.5 if lang == "en" else 0.1) * 16 ** 8), "08x")
        expect_in = hashlib.md5(str(i).encode()).hexdigest()[:8] < thr
        assert (i in got) == expect_in


def test_cluster_sample_balances_and_is_deterministic(spark):
    """cluster_sample keeps exactly per_cluster rows from each occupied
    k-means cell (the md5-smallest, ties by id), collapsing any skew in
    the input distribution — and re-runs reproduce the same rows."""
    import hashlib
    import math
    from gqlite_spark.operators.sampling import cluster_sample
    from gqlite_spark.operators.similarity import ivf_centroids
    # heavy skew: 180 points near (1,0), 20 spread elsewhere
    rows = [(i, [1.0 + math.sin(i) / 50, math.cos(i) / 50])
            for i in range(180)]
    rows += [(200 + i, [math.cos(i), math.sin(i)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, nlist=4)
    out = cluster_sample(df, cents, per_cluster=3, metric="l2").collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    assert all(len(v) <= 3 for v in by_cluster.values())
    # the dense cell contributes 3 rows, not 90% of the sample
    assert len(out) <= 4 * 3 and len(out) >= 6
    # determinism: the kept ids are the md5-smallest of each cluster
    out2 = {(r["cluster_id"], r["vec_id"])
            for r in cluster_sample(df, cents, per_cluster=3,
                                    metric="l2").collect()}
    assert {(r["cluster_id"], r["vec_id"]) for r in out} == out2
    # and they are exactly the md5-smallest members of each cluster
    from gqlite_spark.operators.similarity import ivf_assign
    key = lambda i: (hashlib.md5(str(i).encode()).hexdigest()[:8], i)
    members: dict = {}
    for r in ivf_assign(df, cents, metric="l2").collect():
        members.setdefault(r["list_id"], []).append(r["id"])
    for cl, ids in by_cluster.items():
        assert sorted(ids, key=key) == sorted(members[cl], key=key)[:3]


def test_length_percentiles_match_sorted_pick(spark):
    import math
    from gqlite_spark.operators.sampling import length_percentiles
    vals = {"a": [5, 1, 9, 3, 7, 7, 2, 8, 4, 6], "b": [10, 30, 20]}
    rows = [(k, v) for k, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    out = {r["lang"]: r for r in
           length_percentiles(df, "lang", "n_chars").collect()}
    for k, vs in vals.items():
        s = sorted(vs)
        for p, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            assert out[k][col] == s[math.ceil(p * len(s)) - 1], (k, col)
        assert out[k]["n_docs"] == len(s)


def test_word_ngrams_short_and_exact(spark):
    from pyspark.sql import functions as F
    from gqlite_spark.operators.sampling import word_ngrams
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = df.select(word_ngrams(F.col("text"), 3).alias("g")).collect()
    assert got[0]["g"] == ["a b c", "b c d"]
    assert got[1]["g"] == []


def test_benchmark_contamination_flags_shared_ngram(spark):
    from gqlite_spark.operators.sampling import benchmark_contamination
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, f"prefix {shared} suffix"),
         (2, "totally different words with no overlap at all here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, f"intro {shared} outro"), (101, f"again {shared} end")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_benchmark_matches"]
           for r in benchmark_contamination(docs, bench, n=8).collect()}
    assert got == {1: 2}


# --------------------------------------------------------------------------
# as-of join
# --------------------------------------------------------------------------

def _asof_fixture(spark):
    left = spark.createDataFrame(
        [("a", 10, "l1"), ("a", 20, "l2"), ("a", 5, "l0"), ("b", 10, "l3")],
        "k string, ts long, lbl string")
    right = spark.createDataFrame(
        [("a", 5, "r5"), ("a", 10, "r10"), ("a", 15, "r15"), ("c", 1, "rc")],
        "k string, ts long, rv string")
    return left, right


def test_asof_backward_inclusive(spark):
    from gqlite_spark.operators.temporal import asof_join
    left, right = _asof_fixture(spark)
    got = {r["lbl"]: (r["rv"], r["_match_time"]) for r in
           asof_join(left, right, on="ts", by="k").collect()}
    assert got == {"l0": ("r5", 5),      # equal time matches (inclusive)
                   "l1": ("r10", 10),
                   "l2": ("r15", 15),
                   "l3": (None, None)}   # key 'b' has no right rows


def test_asof_backward_strict(spark):
    from gqlite_spark.operators.temporal import asof_join
    left, right = _asof_fixture(spark)
    got = {r["lbl"]: r["rv"] for r in
           asof_join(left, right, on="ts", by="k", strict=True).collect()}
    assert got == {"l0": None,           # r5 at the same instant excluded
                   "l1": "r5", "l2": "r15", "l3": None}


def test_asof_forward(spark):
    from gqlite_spark.operators.temporal import asof_join
    left, right = _asof_fixture(spark)
    got = {r["lbl"]: r["rv"] for r in
           asof_join(left, right, on="ts", by="k",
                     direction="forward").collect()}
    assert got == {"l0": "r5", "l1": "r10", "l2": None, "l3": None}


def test_asof_tolerance(spark):
    from gqlite_spark.operators.temporal import asof_join
    left, right = _asof_fixture(spark)
    got = {r["lbl"]: r["rv"] for r in
           asof_join(left, right, on="ts", by="k", tolerance=3).collect()}
    # l2(ts=20) best match r15 is 5 away > 3 → nulled
    assert got == {"l0": "r5", "l1": "r10", "l2": None, "l3": None}


def test_asof_randomized_vs_pandas_merge_asof(spark):
    """Seeded random datasets vs pandas.merge_asof (the reference
    implementation of as-of semantics) across backward / forward /
    strict / tolerance.  Right timestamps are unique per key so both
    engines' equal-time tie-breaks coincide."""
    import random

    import pandas as pd

    from gqlite_spark.operators.temporal import asof_join

    for seed in (11, 42, 99):
        rng = random.Random(seed)
        keys = ["a", "b", "c", "d"]
        left_rows = [(rng.choice(keys), rng.randrange(0, 500), i)
                     for i in range(120)]
        right_rows = []
        for k in keys[:3]:                      # key 'd' never matches
            for t in rng.sample(range(0, 500), 40):
                right_rows.append((k, t, rng.randrange(1000)))
        lpdf = pd.DataFrame(left_rows, columns=["k", "ts", "lid"])
        rpdf = pd.DataFrame(right_rows, columns=["k", "ts", "val"])
        left = spark.createDataFrame(lpdf.astype(
            {"k": str, "ts": "int64", "lid": "int64"}))
        right = spark.createDataFrame(rpdf.astype(
            {"k": str, "ts": "int64", "val": "int64"}))

        cases = [
            (dict(), dict(direction="backward")),
            (dict(direction="forward"), dict(direction="forward")),
            (dict(strict=True),
             dict(direction="backward", allow_exact_matches=False)),
            (dict(tolerance=25), dict(direction="backward", tolerance=25)),
        ]
        for spark_kw, pd_kw in cases:
            sd = dict(pd_kw)
            sd.pop("direction", None)
            got = {r["lid"]: r["val"] for r in
                   asof_join(left, right, on="ts", by="k",
                             right_cols=["val"], **spark_kw).collect()}
            direction = pd_kw.pop("direction", "backward")
            exp_df = pd.merge_asof(
                lpdf.sort_values("ts"), rpdf.sort_values("ts"),
                on="ts", by="k", direction=direction, **pd_kw)
            exp = {int(r.lid): (None if pd.isna(r.val) else int(r.val))
                   for r in exp_df.itertuples()}
            assert got == exp, (seed, spark_kw)
            pd_kw["direction"] = direction


def test_token_budget_bpe_counts(spark):
    from gqlite_spark.operators.text import token_budget
    df = spark.createDataFrame([(1, "Hello, world 42 times!")],
                               "doc_id long, text string")
    r = token_budget(df).collect()[0]
    # Hello , world 4 2 times !  → 7 BPE-ish pieces; 4 whitespace tokens
    assert r["n_ws_tokens"] == 4 and r["n_bpe_tokens"] == 7


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing property: two docs sharing a substring of length
    >= k + w - 1 share at least one fingerprint."""
    from gqlite_spark.operators.text import winnow_fingerprints
    shared = "abcdefghijklmnopqrs"       # 19 chars >= 8 + 4 - 1 = 11
    df = spark.createDataFrame(
        [(1, f"xxxx {shared} yyyy"), (2, f"zz {shared} qqqq"),
         (3, "completely unrelated text with nothing in common at all")],
        "doc_id long, text string")
    fps = winnow_fingerprints(df, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnow_density(spark):
    """Fingerprint count is ~1/w of the shingle count (the whole point)."""
    from gqlite_spark.operators.text import winnow_fingerprints
    text = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_fp = winnow_fingerprints(df, k=8, w=4).count()
    n_shingles = len(text) - 7
    assert n_fp < n_shingles / 2


def test_salted_join_equals_plain_join(spark):
    from gqlite_spark.operators.joins import salted_join
    import pytest as _pytest
    # one hot key (0) carrying half the rows
    big = spark.createDataFrame(
        [(i % 2 and i % 50 or 0, i) for i in range(2000)], "k long, v long")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(50)], "k long, name string")
    plain = big.join(small, "k").groupBy("k").count()
    salted = salted_join(big, small, "k", salts=8).groupBy("k").count()
    assert {(r["k"], r["count"]) for r in plain.collect()} == \
           {(r["k"], r["count"]) for r in salted.collect()}
    # left join keeps unmatched big rows exactly once
    big2 = big.union(spark.createDataFrame([(999, 1)], "k long, v long"))
    lj = salted_join(big2, small, "k", salts=8, how="left")
    assert lj.filter("k = 999").count() == 1
    assert lj.filter("k = 999").collect()[0]["name"] is None
    with _pytest.raises(ValueError):
        salted_join(big, small, "k", how="full")


def test_pack_sequences_offsets_and_chunking(spark):
    from gqlite_spark.operators.sampling import pack_sequences
    rows = [(i, 30 + (i * 7) % 50) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = pack_sequences(df, "n_tok", budget=100, buckets=4).collect()
    assert len(out) == 100
    by_bucket = {}
    for r in sorted(out, key=lambda r: (r["bucket"], r["doc_id"])):
        cum = by_bucket.get(r["bucket"], 0)
        assert r["offset"] == cum, r          # back-to-back concatenation
        assert r["seq_id"] == cum // 100, r   # chunk containing first token
        by_bucket[r["bucket"]] = cum + r["n_tok"]


def test_pack_sequences_explicit_bucket_col(spark):
    from gqlite_spark.operators.sampling import pack_sequences
    from pyspark.sql import functions as F
    df = (spark.createDataFrame([(i, 10) for i in range(20)],
                                "doc_id long, n_tok long")
          .withColumn("b", (F.col("doc_id") % 2).cast("long")))
    out = {r["doc_id"]: r for r in
           pack_sequences(df, "n_tok", budget=25, bucket_col="b").collect()}
    # bucket 0 docs: 0,2,4,... offsets 0,10,20,...; seq boundaries at 25
    assert out[4]["offset"] == 20 and out[4]["seq_id"] == 0
    assert out[6]["offset"] == 30 and out[6]["seq_id"] == 1


def test_repetition_metrics_known(spark):
    from gqlite_spark.operators.text import repetition_metrics
    df = spark.createDataFrame([(1, "a b a b a b"), (2, "x y")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 6
    assert r1["distinct_ratio"] == 0.3333
    # 3-grams: "a b a","b a b","a b a","b a b" → 4 total, 2 distinct
    assert r1["dup_3gram_frac"] == 0.5
    assert r1["top_token_frac"] == 0.5
    r2 = out[2]
    assert r2["dup_3gram_frac"] == 0.0 and r2["distinct_ratio"] == 1.0


def test_tfidf_top_terms_known(spark):
    import math
    from gqlite_spark.operators.text import tfidf_top_terms
    df = spark.createDataFrame([(1, "x x y"), (2, "y z")],
                               "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): r
           for r in tfidf_top_terms(df, k=5).collect()}
    idf_rare = math.log(3 / 2) + 1.0           # df=1, N=2
    assert out[(1, 1)]["term"] == "x"
    assert out[(1, 1)]["tfidf"] == round(2 * idf_rare, 4)
    assert out[(1, 2)]["term"] == "y" and out[(1, 2)]["tfidf"] == 1.0
    assert out[(2, 1)]["term"] == "z"
    assert out[(2, 1)]["tfidf"] == round(idf_rare, 4)


def test_funnel_strict_step_ordering(spark):
    """A user who clicks BEFORE their first view must not count as a
    click conversion; re-ordering is the funnel's whole point."""
    from gqlite_spark.operators.temporal import funnel
    rows = [
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),  # full
        (2, 10, "click"), (2, 20, "view"),                       # click<view
        (3, 10, "view"), (3, 20, "click"),                       # no purchase
        (4, 10, "purchase"),                                     # cold buy
        (5, 10, "view"), (5, 10, "click"),                       # same-time ok
    ]
    # long ts = nanoseconds (the dual-encoding epoch_micros contract)
    df = spark.createDataFrame(
        [(u, t * 1_000_000_000, ty) for u, t, ty in rows],
        "user_id long, e long, t string")
    out = {r["step"]: r for r in
           funnel(df, ["view", "click", "purchase"],
                  type_col="t", ts_col="e").collect()}
    assert out["view"]["n_users"] == 4          # users 1,2,3,5
    assert out["click"]["n_users"] == 3         # 1,3,5 (2's click too early)
    assert out["purchase"]["n_users"] == 1      # only 1 (4 never viewed)
    assert [out[s]["step_idx"] for s in ("view", "click", "purchase")] \
        == [1, 2, 3]
    with pytest.raises(ValueError):
        funnel(df, [], type_col="t", ts_col="e")

    # conversion window: user 1's click is 10 s after the view — a 5 s
    # window drops it (and transitively the purchase); user 5 (same-time
    # click) and user 3 (10 s apart) sit exactly on/inside the boundary
    win = {r["step"]: r["n_users"] for r in
           funnel(df, ["view", "click", "purchase"], type_col="t",
                  ts_col="e", within_micros=5_000_000).collect()}
    assert win["view"] == 4 and win["click"] == 1 and win["purchase"] == 0
    win10 = {r["step"]: r["n_users"] for r in
             funnel(df, ["view", "click", "purchase"], type_col="t",
                    ts_col="e", within_micros=10_000_000).collect()}
    assert win10["click"] == 3 and win10["purchase"] == 1


def test_cohort_retention_buckets(spark):
    """First-event bucket defines the cohort; later activity lands at
    integer offsets; multiple events in one bucket count once."""
    from gqlite_spark.operators.temporal import cohort_retention
    day = 86400
    rows = [(1, 0), (1, 10), (1, day), (1, 3 * day),     # cohort 0
            (2, day), (2, day + 5), (2, 2 * day),        # cohort 1
            (3, 0)]                                      # cohort 0, one day
    df = spark.createDataFrame(
        [(u, s * 1_000_000_000) for u, s in rows], "user_id long, ts long")
    # long-nanoseconds ts exercises the dual-encoding epoch path
    got = {(r["cohort_bucket"], r["bucket_offset"]): r["n_active"]
           for r in cohort_retention(df).collect()}
    assert got[(0, 0)] == 2 and got[(0, 1)] == 1 and got[(0, 3)] == 1
    assert got[(1, 0)] == 1 and got[(1, 1)] == 1
    assert (0, 2) not in got
    assert sum(v for (c, o), v in got.items() if c == 0 and o == 0) == 2


def test_hash_sample_rate_one_keeps_all(spark):
    """rate=1.0 must keep ALL rows — the naive 9-char hex threshold
    '100000000' sorts below letter-prefixed md5s and silently kept ~1/16."""
    from gqlite_spark.operators.sampling import hash_sample
    df = spark.range(200).withColumnRenamed("id", "doc_id")
    assert hash_sample(df, rate=1.0).count() == 200
    assert hash_sample(df, rate=0.0).count() == 0


def test_mixture_sample_hits_target_recipe(spark):
    """Rates derive from observed counts: the binding group keeps all its
    rows (rate 1.0) and the others downsample toward the target mix;
    unlisted groups drop; determinism across calls."""
    from gqlite_spark.operators.sampling import mixture_sample
    rows = [(i, "en" if i < 600 else ("zh" if i < 800 else "xx"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_sample(df, "lang", {"en": 0.5, "zh": 0.5})
    got = {r["lang"]: r["cnt"] for r in
           out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # K = min(600/0.5, 200/0.5) = 400 → zh rate 1.0 (keeps all 200),
    # en rate 400*0.5/600 = 1/3 (~200 of 600, md5-binomial jitter)
    assert "xx" not in got
    assert got["zh"] == 200
    assert 160 <= got["en"] <= 240
    # deterministic: identical sample on re-run
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               mixture_sample(df, "lang", {"en": 0.5, "zh": 0.5}).collect())
    assert a == b
    with pytest.raises(ValueError):
        mixture_sample(df, "lang", {})
    with pytest.raises(ValueError):
        mixture_sample(df, "lang", {"en": 0.0})


def test_lm_score_known_values(spark):
    """Hand-computed trigram model on a 3-doc corpus: repeated-pattern
    docs score higher (less surprising) than the mixed doc; short and
    null docs drop."""
    import math

    from gqlite_spark.operators.text import lm_score
    rows = [(1, "aaaa"), (2, "abcd"), (3, "aa"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score(df).collect()}
    # corpus trigrams: doc1 {aaa, aaa}, doc2 {abc, bcd}; total 4
    # p(aaa)=2/4, p(abc)=p(bcd)=1/4
    lp = {g: math.floor(math.log(p) * 1e6 + 0.5)
          for g, p in (("aaa", 0.5), ("abc", 0.25), ("bcd", 0.25))}
    assert set(out) == {1, 2}                     # doc 3 too short, 4 null
    assert out[1]["n_grams"] == 2
    assert out[1]["avg_logp"] == round(lp["aaa"] / 1e6, 4)
    assert out[2]["n_grams"] == 2
    assert out[2]["avg_logp"] == round(
        (lp["abc"] + lp["bcd"]) / 2 / 1e6, 4)
    assert out[1]["avg_logp"] > out[2]["avg_logp"]


def test_det_ln_e6_cross_engine_bit_identity(spark):
    """The libm-free ln powering lm_score must be bit-identical between
    Spark and DuckDB (ADVICE r4: java Math.log vs C std::log can differ
    in the last ulp exactly at a floor(x*1e6+0.5) boundary) and track
    libm ln within 1 micro-nat."""
    import math
    import random

    import duckdb

    from gqlite_spark.operators.text import det_ln_e6_sql
    random.seed(11)
    pairs = [(1, 1), (1, 2), (3, 7), (1, 10**15), (2**52, 2**53 - 1)] + \
        [(random.randint(1, 10**12), 10**12) for _ in range(500)]
    df = spark.createDataFrame(pairs, "c long, t long")
    sv = [r[0] for r in
          df.select(F.expr(det_ln_e6_sql("c", "t", "spark"))).collect()]
    con = duckdb.connect()
    dv = [r[0] for r in con.execute(
        "SELECT " + det_ln_e6_sql("c", "t", "duck") +
        " FROM (SELECT unnest($1) c, unnest($2) t)",
        [[p[0] for p in pairs], [p[1] for p in pairs]]).fetchall()]
    assert sv == dv                       # bit-identical across engines
    for (c, t), v in zip(pairs, sv):      # and within 1 µnat of libm
        assert abs(v - math.floor(
            (math.log(c) - math.log(t)) * 1e6 + 0.5)) <= 1


def test_chunk_documents_overlap_and_nulls(spark):
    """Chunk boundaries, overlap carry-over, tail handling, and the
    NULL-text guard (a null doc must yield one empty chunk, not vanish)."""
    from gqlite_spark.operators.text import chunk_documents
    toks = [f"w{i}" for i in range(1, 11)]          # 10 tokens
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, None)],
        "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=4, overlap=1)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    # doc 1: starts 1,4,7 (step 3, while start <= 10-1=9) → 3 chunks
    assert {k for k in rows if k[0] == 1} == {(1, 1), (1, 2), (1, 3)}
    assert rows[(1, 1)]["chunk_text"] == "w1 w2 w3 w4"
    # overlap: chunk 2 re-carries chunk 1's last token
    assert rows[(1, 2)]["chunk_text"] == "w4 w5 w6 w7"
    assert rows[(1, 3)]["chunk_text"] == "w7 w8 w9 w10"
    assert rows[(1, 3)]["n_chunk_tokens"] == 4
    # short doc: single (short) chunk
    assert rows[(2, 1)]["chunk_text"] == "a b"
    assert rows[(2, 1)]["n_chunk_tokens"] == 2
    # null text: one empty chunk row survives
    assert rows[(3, 1)]["chunk_text"] == ""
    assert rows[(3, 1)]["n_chunk_tokens"] == 1
    assert len(rows) == 5
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_redact_pii_planted_cross_engine(spark):
    """Planted emails/IPs/phones/SSNs/cards/IBANs: Spark redaction must
    equal DuckDB's (same 6 patterns, 'g' flag) — guards against
    Java-vs-RE2 divergence."""
    import duckdb

    from gqlite_spark.operators.text import (PII_CC, PII_EMAIL, PII_IBAN,
                                             PII_IPV4, PII_PHONE, PII_SSN,
                                             redact_pii)
    rows = [
        (1, "contact bob.smith+x@ex-ample.org or 10.0.255.7 today"),
        (2, "call +1 (555) 123-4567 and 192.168.1.1 x@y.io end"),
        (3, "no pii here just words"),
        (4, "a@b.co a@b.co twice"),
        (5, "ssn 123-45-6789 card 4111-1111 1111-1111 ok"),
        (6, "wire to DE89370400440532013000 iban and 078-05-1120"),
        (7, "not-a-ssn 1234-56-789 and GB12X low gb82west12345698765432"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["text"] == "contact <EMAIL> or <IP> today"
    assert got[1]["n_emails"] == 1 and got[1]["n_ipv4"] == 1
    assert got[2]["n_phones"] == 1 and got[2]["n_ipv4"] == 1
    assert got[2]["text"] == "call <PHONE> and <IP> <EMAIL> end"
    assert got[3]["text"] == rows[2][1]
    assert got[4]["n_emails"] == 2 and got[4]["text"] == "<EMAIL> <EMAIL> twice"
    assert got[5]["text"] == "ssn <SSN> card <CC> ok"
    assert got[5]["n_ssn"] == 1 and got[5]["n_cc"] == 1
    assert got[6]["text"] == "wire to <IBAN> iban and <SSN>"
    assert got[6]["n_iban"] == 1 and got[6]["n_ssn"] == 1
    # near-misses must NOT be redacted (wrong group shape / lowercase)
    assert got[7]["n_ssn"] == 0 and got[7]["n_cc"] == 0
    assert got[7]["n_iban"] == 0 and got[7]["text"] == rows[6][1]

    con = duckdb.connect()
    for doc_id, text in rows:
        sql = ("SELECT regexp_replace(regexp_replace(regexp_replace("
               "regexp_replace(regexp_replace(regexp_replace(?,"
               f" '{PII_EMAIL}', '<EMAIL>', 'g'), '{PII_IPV4}', '<IP>', 'g'),"
               f" '{PII_PHONE}', '<PHONE>', 'g'), '{PII_SSN}', '<SSN>', 'g'),"
               f" '{PII_CC}', '<CC>', 'g'), '{PII_IBAN}', '<IBAN>', 'g'),"
               f" len(regexp_extract_all(?, '{PII_EMAIL}')),"
               f" len(regexp_extract_all(?, '{PII_IPV4}')),"
               f" len(regexp_extract_all(?, '{PII_PHONE}')),"
               f" len(regexp_extract_all(?, '{PII_SSN}')),"
               f" len(regexp_extract_all(?, '{PII_CC}')),"
               f" len(regexp_extract_all(?, '{PII_IBAN}'))")
        txt, ne, ni, np_, ns, nc, nb = con.execute(sql, [text] * 7).fetchone()
        r = got[doc_id]
        assert (txt, ne, ni, np_, ns, nc, nb) == (
            r["text"], r["n_emails"], r["n_ipv4"], r["n_phones"],
            r["n_ssn"], r["n_cc"], r["n_iban"]), doc_id


def test_canonicalize_urls_edge_cases(spark):
    """The crawl-dedup normalization chain: case, default ports, runs of
    utm params, fragments, trailing slashes, dangling separators — and
    the things it must NOT touch (non-default ports, non-utm params,
    path case)."""
    from gqlite_spark.operators.text import canonicalize_urls
    cases = [
        ("HTTP://WWW.Site.COM/A/b", "http://www.site.com/A/b"),
        ("https://site.com:443/x", "https://site.com/x"),
        ("http://site.com:80", "http://site.com"),
        ("http://site.com:8080/x", "http://site.com:8080/x"),
        ("http://s.com/p?utm_source=a&utm_medium=b&utm_term=c&q=1",
         "http://s.com/p?q=1"),
        ("http://s.com/p?utm_source=a", "http://s.com/p"),
        ("http://s.com/p?q=1&utm_source=a", "http://s.com/p?q=1"),
        ("http://s.com/p#frag", "http://s.com/p"),
        ("http://s.com/p/", "http://s.com/p"),
        ("http://s.com/p?q=1#frag", "http://s.com/p?q=1"),
        ("http://s.com/", "http://s.com"),
        # scheme-less URLs keep their RAW value — rebuilding would
        # collapse every such row to '://' (ADVICE r5: silent over-merge)
        ("www.a.com/x", "www.a.com/x"),
        ("site.com", "site.com"),
        # default-port stripping is scheme-aware: :443 under http (and
        # :80 under https) names a DIFFERENT resource and must survive
        ("http://site.com:443/x", "http://site.com:443/x"),
        ("https://site.com:80/x", "https://site.com:80/x"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "doc_id long, url string")
    got = {r["url"]: r["url_canon"]
           for r in canonicalize_urls(df).collect()}
    for raw, want in cases:
        assert got[raw] == want, raw


def test_url_dedup_collapses_variants(spark):
    from gqlite_spark.operators.text import url_dedup
    rows = [(1, "HTTP://A.com/x"), (2, "http://a.com:80/x/"),
            (3, "http://a.com/x?utm_source=z"), (4, "http://a.com/y")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["url_canon"]: (r["rep_id"], r["n_copies"])
           for r in url_dedup(df).collect()}
    assert out["http://a.com/x"] == (1, 3)
    assert out["http://a.com/y"] == (4, 1)


def test_shuffle_rows_deterministic_order(spark):
    """Global order equals the md5-of-id order computed in Python; a salt
    gives a different (still deterministic) permutation."""
    import hashlib
    from gqlite_spark.operators.sampling import shuffle_rows
    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    got = [r["doc_id"] for r in shuffle_rows(df).collect()]
    want = sorted(range(50),
                  key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    assert got == want
    salted = [r["doc_id"] for r in shuffle_rows(df, salt="ep2").collect()]
    assert sorted(salted) == sorted(got) and salted != got


def test_pq_default_recall_tripwire(spark, tmp_path):
    """Recall tripwire for the PQ defaults (VERDICT r5 #6): on a dense-
    cluster corpus (16 clusters × ~250 vectors — the regime where a
    coarse codebook actually loses neighbours) the default
    save_pq_index → topk_indexed path must hold recall@10 ≥ 0.9 at
    candidates = 2% of the corpus.  The remediated m=8/ksub=64/refine=2
    config measures 1.0 here; the old m=4/ksub=16 config measures 0.66 —
    any future quantizer change that silently regresses gets caught."""
    import hashlib

    from gqlite_spark.operators.similarity import (cosine_topk,
                                                   load_index,
                                                   save_pq_index,
                                                   topk_indexed)
    DIM, NCL = 16, 16
    cl = F.pmod(F.xxhash64("id"), F.lit(NCL))
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (F.pmod(F.xxhash64(cl, i), F.lit(1000)) / 1000.0
                   + F.pmod(F.xxhash64("id", i), F.lit(1000)) / 4000.0))
    corpus = (spark.range(4000)
              .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
              .cache())
    rows = (corpus.where((F.col("vec_id") % 797) == 0)
            .orderBy("vec_id").limit(5).collect())
    queries = []
    for r in rows:
        v = list(r["embedding"])
        h = hashlib.md5(str(r["vec_id"]).encode()).digest()
        queries.append([x + (h[i % 16] - 128) / 25600.0
                        for i, x in enumerate(v)])
    path = str(tmp_path / "pqidx")
    save_pq_index(corpus, path)                 # DEFAULTS under test
    codes, params = load_index(spark, path, "pq")
    codes = codes.cache()
    recalls = []
    for q in queries:
        exact = {r["id"] for r in cosine_topk(corpus, q, 10).collect()}
        ann = {r["id"] for r in
               topk_indexed(corpus, q, codes, params,
                            k=10, candidates=80).collect()}
        recalls.append(len(ann & exact) / len(exact))
    corpus.unpersist()
    codes.unpersist()
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_write_training_shards_deterministic_layout(spark, tmp_path):
    """Epoch-shard writer: shard assignment is a pure function of
    (salt, id) matching the python md5 arithmetic; each shard directory
    holds exactly ONE file whose rows are sorted by shuffle_key; the
    union round-trips the input; a re-write is byte-deterministic; a
    different salt permutes rows across shards."""
    import glob
    import hashlib
    import os

    from gqlite_spark.operators.sampling import write_training_shards
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(200)],
                                 "doc_id long, text string")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=8)

    def py_shard(i, salt=""):
        h = hashlib.md5(f"{salt}{i}".encode()).hexdigest()
        return int(h[:4], 16) % 8

    seen = {}
    for d in sorted(glob.glob(os.path.join(path, "_shard=*"))):
        k = int(d.rsplit("=", 1)[1])
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (k, files)    # all of a shard in one task
        rows = spark.read.parquet(files[0]).collect()
        keys = [r["shuffle_key"] for r in rows]
        assert keys == sorted(keys), k        # within-shard order
        for r in rows:
            assert py_shard(r["doc_id"]) == k
            seen[r["doc_id"]] = r["shuffle_key"]
    assert sorted(seen) == list(range(200))   # lossless round trip
    for i, key in seen.items():
        assert key == hashlib.md5(str(i).encode()).hexdigest()

    # identical re-write; different salt → different assignment
    path2 = str(tmp_path / "shards2")
    write_training_shards(docs, path2, n_shards=8)
    a = spark.read.parquet(path).orderBy("doc_id").collect()
    b = spark.read.parquet(path2).orderBy("doc_id").collect()
    assert a == b
    path3 = str(tmp_path / "shards3")
    write_training_shards(docs, path3, n_shards=8, salt="ep2")
    c = {r["doc_id"]: r["_shard"] for r in
         spark.read.parquet(path3).collect()}
    assert any(c[i] != py_shard(i) for i in range(200))
    for i in range(200):
        assert c[i] == py_shard(i, "ep2")


def test_canonicalize_urls_combinatorial_vs_python_model(spark):
    """Exhaustive combination sweep (scheme × port × path × params ×
    fragment × trailing slash — ~1.5k URLs, one Spark job) against a
    pure-Python model of the documented spec: lowercased scheme+host,
    scheme-aware default-port strip, fragment drop, utm_* removal,
    trailing-slash/dangling-separator strip, scheme-less rows raw."""
    import itertools
    import re as _re

    from gqlite_spark.operators.text import canonicalize_urls

    def model(url):
        m = _re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$", url)
        if not m:
            return url
        c = m.group(1).lower() + "://" + m.group(2).lower() + m.group(3)
        c = _re.sub(r"#.*$", "", c)
        c = _re.sub(r"^(http://[^/?#:]*):80([/?])", r"\1\2", c)
        c = _re.sub(r"^(http://[^/?#:]*):80$", r"\1", c)
        c = _re.sub(r"^(https://[^/?#:]*):443([/?])", r"\1\2", c)
        c = _re.sub(r"^(https://[^/?#:]*):443$", r"\1", c)
        for _ in range(3):
            c = _re.sub(r"([?&])utm_[^&#]*&", r"\1", c)
        c = _re.sub(r"[?&]utm_[^&#]*$", "", c)
        c = _re.sub(r"/$", "", c)
        c = _re.sub(r"[?&]$", "", c)
        return c

    schemes = ["http://", "https://", "HTTP://", "ftp://", ""]
    hosts = ["Site.COM", "a.b.example"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/A/b", "/x/"]
    queries = ["", "?q=1", "?utm_source=a", "?utm_source=a&utm_medium=b",
               "?q=1&utm_term=c", "?utm_campaign=x&q=2"]
    frags = ["", "#Frag"]
    urls = ["".join(parts) for parts in
            itertools.product(schemes, hosts, ports, paths, queries, frags)]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "doc_id long, url string")
    got = {r["doc_id"]: r["url_canon"]
           for r in canonicalize_urls(df).collect()}
    for i, u in enumerate(urls):
        assert got[i] == model(u), (u, got[i], model(u))


def test_det_ln_accuracy_vs_libm(spark):
    """The deterministic polynomial ln must agree with libm to well
    under a micro-nat across magnitudes (else quantized log-probs would
    drift from true MLE scores, not just between engines): check
    floor((ln(c)-ln(t))*1e6+0.5) against Python math.log over a spread
    of count/total pairs, allowing ≤1 ulp-at-the-floor-boundary step."""
    import math

    from gqlite_spark.operators.text import det_ln_e6_sql
    pairs = [(c, t) for c in
             [1, 2, 3, 7, 10, 999, 12345, 10**6, 10**9, 2**52 - 1]
             for t in [10**6, 10**9, 2**53 - 1] if c <= t]
    df = spark.createDataFrame(pairs, "c long, t long")
    got = [r[0] for r in
           df.select(F.expr(det_ln_e6_sql("c", "t", "spark"))).collect()]
    for (c, t), g in zip(pairs, got):
        want = math.floor((math.log(c) - math.log(t)) * 1e6 + 0.5)
        assert abs(g - want) <= 1, (c, t, g, want)


def test_ivf_lloyd_refine_l2_metric(spark):
    """Metric-matched Lloyd (r7): l2 refinement reduces (or keeps) the
    within-list squared-L2 quantization error, preserves nlist even when
    a list goes empty (empty-cluster carryover), and the refined index
    round-trips through save_ivf_index(metric='l2', refine_iters>0)."""
    import math

    from gqlite_spark.operators.similarity import (ivf_centroids,
                                                   lloyd_refine)

    def sse(cents, vecs):
        tot = 0.0
        for _, v in vecs:
            tot += min(sum((a - b) ** 2 for a, b in zip(v, cv))
                       for _, cv in cents)
        return tot

    # two tight clusters far apart + the low-id sampling centroids all
    # landing in cluster 0 — l2 Lloyd must migrate a centroid across
    vecs = ([(i, [0.0 + i * 1e-3, 0.0]) for i in range(40)]
            + [(100 + i, [50.0 + i * 1e-3, 50.0]) for i in range(40)])
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    raw = ivf_centroids(df, nlist=3)
    refined = lloyd_refine(df, raw, iters=4, metric="l2")
    assert len(refined) == 3                      # nlist preserved
    assert sse(refined, vecs) < sse(raw, vecs) * 0.5
    # some refined centroid now sits in the far cluster
    assert any(cv[1] > 25 for _, cv in refined)


def test_build_ivf_index_refined(spark, tmp_path):
    """Group.build_ivf_index(refine_iters>0) builds a routed index with
    Lloyd-refined centroids; routed results still match exact on a
    well-separated fixture."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.catalog.create_graph("lrg")
    grp = db.catalog.graphs["lrg"].create_group("pts")
    rows = ([(i, [float(i) / 100, 0.0]) for i in range(100)]
            + [(200 + i, [90.0 + i / 100, 9.0]) for i in range(100)])
    grp.register_df(
        spark.createDataFrame(rows, "id long, vec array<double>"))
    nlist = grp.build_ivf_index("vec", str(tmp_path / "ridx"),
                                nlist=4, refine_iters=2)
    assert nlist == 4
    spark.conf.set("spark.gqlite.knn.ann_threshold", "50")
    try:
        out = db.query_df("{query: 'pts', in: 'lrg', where:"
                          " {vec: {limit: 3, $near: [0, 0]}}};")
        assert [r["id"] for r in out.collect()] == [0, 1, 2]
    finally:
        spark.conf.set("spark.gqlite.knn.ann_threshold", "100000")


# ------------------------------------------------- IVF kNN join (r8)

def test_ivf_probe_col_matches_driver_probe(spark):
    """The per-row probe-list Column agrees with the driver-side
    probe_lists for every row — same lists, same order, ties → smallest
    cid — on tie-heavy data at nlist 10 and 140."""
    from gqlite_spark.operators.similarity import (
        _ivf_probe_col, ivf_centroids, probe_lists)
    vecs = _half_lattice(120, 3)
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    lattice = [(c, [((c * 3 + j * 7) % 9 - 4) / 2.0 for j in range(3)])
               for c in range(140)]
    for cents in (ivf_centroids(df, nlist=10), lattice):
        for metric in ("ip", "l2"):
            got = {r["vec_id"]: list(r["p"]) for r in df.select(
                "vec_id", _ivf_probe_col(cents, "embedding", 3, metric)
                .alias("p")).collect()}
            for i, v in vecs:
                assert got[i] == probe_lists(v, cents, 3, metric), \
                    (len(cents), metric, i)


def test_ivf_knn_join_matches_bruteforce_when_probing_all(spark):
    """With nprobe = nlist every list is probed, so the IVF join must
    equal the exact broadcast knn_join row-for-row (same ranks, same
    rounded cosine)."""
    import math
    from gqlite_spark.operators.similarity import ivf_knn_join, knn_join
    vecs = [(i, [math.cos(i / 11), math.sin(i / 11)]) for i in range(90)]
    corpus = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<double>")
    queries = (corpus.filter(F.col("vec_id") % 30 == 0)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact = {(r["q_id"], r["rank"]): (r["id"], r["cosine"])
             for r in knn_join(corpus, queries, k=4).collect()}
    approx = {(r["q_id"], r["rank"]): (r["id"], r["cosine"])
              for r in ivf_knn_join(corpus, queries, k=4, nlist=6,
                                    nprobe=6).collect()}
    assert approx == exact


def test_ivf_knn_join_prunes_pairs(spark):
    """With nprobe < nlist the join only compares a query against its
    probed lists — on a well-separated clustered corpus recall stays
    exact while the candidate pair count drops to ~nprobe/nlist."""
    from gqlite_spark.operators.similarity import ivf_knn_join, knn_join
    # 4 tight clusters at unit-circle corners
    base = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [-1.0, 0.0], 3: [0.0, -1.0]}
    vecs = [(i, [a + 0.01 * ((i % 7) - 3), b + 0.01 * ((i // 7) % 5 - 2)])
            for i, (a, b) in ((i, base[i % 4]) for i in range(200))]
    corpus = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<double>")
    queries = (corpus.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact = {(r["q_id"], r["rank"]): r["id"]
             for r in knn_join(corpus, queries, k=3).collect()}
    approx = {(r["q_id"], r["rank"]): r["id"]
              for r in ivf_knn_join(corpus, queries, k=3, nlist=16,
                                    nprobe=4).collect()}
    assert approx == exact


def test_ivf_knn_join_l2_metric(spark):
    """metric='l2' ranks by squared L2 ascending and returns dist2."""
    from gqlite_spark.operators.similarity import ivf_knn_join
    vecs = [(i, [float(i), 0.0]) for i in range(50)]
    corpus = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(100, [3.2, 0.0])],
                                    "q_id long, q_vec array<double>")
    out = ivf_knn_join(corpus, queries, k=3, nlist=8, nprobe=8,
                       metric="l2").collect()
    assert [r["id"] for r in out] == [3, 4, 2]
    assert out[0]["dist2"] == pytest.approx(0.04)


def test_ivf_knn_join_indexed_matches_inline(spark, tmp_path):
    """The persisted-index corpus side returns the same rows as the
    inline join given the same quantizer, and its scan is partition-
    pruned storage (list_id hive layout)."""
    import math
    from gqlite_spark.operators.similarity import (
        ivf_centroids, ivf_knn_join, ivf_knn_join_indexed, save_ivf_index)
    vecs = [(i, [math.cos(i / 13), math.sin(i / 13), math.cos(i / 5)])
            for i in range(120)]
    corpus = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<double>")
    path = str(tmp_path / "join_idx")
    save_ivf_index(corpus, path, nlist=6, include_vectors=True)
    queries = (corpus.filter(F.col("vec_id") % 40 == 1)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cents = ivf_centroids(corpus, nlist=6)
    inline = sorted(map(tuple, ivf_knn_join(
        corpus, queries, k=3, centroids=cents, nprobe=2).collect()))
    indexed = sorted(map(tuple, ivf_knn_join_indexed(
        spark, path, queries, k=3, nprobe=2).collect()))
    assert indexed == inline


def test_semantic_contamination_flags_paraphrase(spark):
    """A training row sitting on top of a benchmark embedding is
    flagged with its top-1 benchmark hit; distant rows are not."""
    from gqlite_spark.operators.sampling import semantic_contamination
    bench = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    train = spark.createDataFrame(
        [(10, [0.999, 0.012]),    # near bench 1
         (11, [-1.0, 0.0]),      # opposite — clean
         (12, [0.6, 0.62])],     # diagonal — below threshold
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["bench_id"] for r in semantic_contamination(
        train, bench, threshold=0.98, nlist=2, nprobe=2).collect()}
    assert got == {10: 1}


def test_curation_pipeline_gates_bite(spark):
    """The chained curation entry must actually FILTER at each gate:
    output docs < deduped train docs (quality + decontamination bite),
    output > 0, and the per-language sums stay integer-exact."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    out = entry.q_curation_pipeline(spark, sf).collect()
    assert out, "pipeline produced no rows"
    n_out = sum(r["n_docs"] for r in out)
    d = spark.read.parquet(sf + "/documents.parquet")
    n_train = (d.filter(F.col("doc_id") % 7 != 0)
               .select(F.md5("text")).distinct().count())
    assert 0 < n_out < n_train, (n_out, n_train)
    for r in out:
        assert r["sum_tokens"] > 0 and r["sum_quality_e4"] > 0


def test_keep_best_per_cluster(spark):
    """Survivor selection: each cluster keeps its max-score member
    (ties -> min id); singletons keep themselves; docs absent from
    scores drop out of the join (caller contract: score every member)."""
    from gqlite_spark.operators.dedup import keep_best_per_cluster
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)],
        "doc_id long, cluster_rep long")
    scores = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (7, 5.0), (8, 4.0), (9, 1.0)],
        "doc_id long, score double")
    got = {r["doc_id"]: r["keep"]
           for r in keep_best_per_cluster(clusters, scores).collect()}
    # cluster 1: 2 and 3 tie at 30 -> min id 2 wins; cluster 7: 7 wins
    assert got == {1: False, 2: True, 3: False,
                   7: True, 8: False, 9: True}


def test_curate_corpus_best_by_and_survivors(spark):
    """VERDICT r11 next #6: the one-plan curation purge accepts
    quality-driven survivor selection.  best_by picks the max-metric
    member per exact-hash group (tie -> min id); survivors purges
    exactly the keep=false ids of a precomputed verdict and keeps docs
    absent from it; both are mutually exclusive."""
    import pytest

    from gqlite_spark.operators.sampling import curate_corpus
    long_en = ("the quick brown fox jumps over the lazy dog and the "
               "dog sleeps in the sun for a while longer today") * 3
    docs = spark.createDataFrame(
        [(1, long_en), (2, long_en), (3, long_en),
         (4, long_en + " extra unique tail of the day")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(99, "zzz qqq")],
                                  "doc_id long, text string")
    # default: min-id canonical -> ids {1, 4} survive the dedup
    base = curate_corpus(docs, bench, quality_min=0.0).collect()
    assert sum(r["n_docs"] for r in base) == 2
    # best_by on a metric: same count, different survivor (id 1 still
    # wins its group — equal texts tie on every metric -> min id)
    bb = curate_corpus(docs, bench, quality_min=0.0,
                       best_by="n_tokens").collect()
    assert sum(r["n_docs"] for r in bb) == 2
    # best_by on a raw docs column
    docs2 = docs.withColumn("prio", F.col("doc_id").cast("double"))
    bb2 = curate_corpus(docs2, bench, quality_min=0.0,
                        best_by="prio").collect()
    assert sum(r["n_docs"] for r in bb2) == 2
    # survivors: purge ids 1 and 2 (keep=false); 3 kept by verdict,
    # 4 absent from the frame -> kept
    surv = spark.createDataFrame(
        [(1, False), (2, False), (3, True)],
        "doc_id long, keep boolean")
    sv = curate_corpus(docs, bench, quality_min=0.0,
                       survivors=surv).collect()
    assert sum(r["n_docs"] for r in sv) == 2
    with pytest.raises(ValueError, match="not both"):
        curate_corpus(docs, bench, best_by="n_tokens", survivors=surv)


def test_split_assign_co_travel_and_determinism(spark):
    """Leakage safety: every row of one key group gets the SAME split;
    re-running (and reordering) never moves a row; salts move groups
    independently; weights must sum to 1."""
    import pytest

    from gqlite_spark.operators.sampling import split_assign
    df = spark.createDataFrame(
        [(i, f"site{i % 7}") for i in range(200)],
        "doc_id long, source string")
    out = split_assign(df, key_col="source", salt="v1")
    per_group = (out.groupBy("source")
                 .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r["k"] == 1 for r in per_group)       # co-travel
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_assign(df.orderBy(F.desc("doc_id")),
                               key_col="source", salt="v1").collect()}
    assert a == b                                    # order-independent
    c = {r["doc_id"]: r["split"]
         for r in split_assign(df, key_col="source", salt="v2").collect()}
    assert a != c                                    # salt independence
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, splits=(("train", 0.8), ("test", 0.1)))
    with pytest.raises(ValueError, match=">= 0"):
        split_assign(df, splits=(("train", 1.2), ("test", -0.2)))
    # fine-grained key -> realized fractions near the weights
    fine = split_assign(df, key_col="doc_id", salt="v1")
    n_train = fine.filter(F.col("split") == "train").count()
    assert 130 <= n_train <= 190                     # ~160 expected


def test_bm25_ranking_properties(spark):
    """BM25 semantics on a hand-built corpus: more query-term mass
    ranks higher at equal length; rare terms outweigh common ones;
    docs with no query term are absent; dtypes are gate-shaped."""
    from gqlite_spark.operators.text import bm25_topk
    docs = spark.createDataFrame(
        [(1, "apple apple apple banana x y z"),
         (2, "apple banana c d e f g"),
         (3, "zebra c d e f g h"),          # rare term, same length
         (4, "c d e f g h i"),              # no query terms
         (5, "apple " + "pad " * 40)],      # long doc: tf normalized down
        "doc_id long, text string")
    out = bm25_topk(docs, ["apple", "banana", "zebra"], k=10).toPandas()
    assert set(out["doc_id"]) == {1, 2, 3, 5}        # doc 4 absent
    rank = {r.doc_id: r.rank for r in out.itertuples()}
    assert rank[1] < rank[2]      # 3x apple + banana beats 1x + banana
    # zebra appears in 1/5 docs, apple in 3/5: rare-term doc outranks
    # the single-common-term docs
    assert rank[3] < rank[5]
    score = {r.doc_id: r.score_e6 for r in out.itertuples()}
    assert all(s > 0 for s in score.values())
    # length normalization: doc 5's lone 'apple' in a 41-token doc
    # scores below doc 2's 'apple' (+ banana) in a 7-token doc
    assert score[2] > score[5]
    assert str(out["score_e6"].dtype) == "int64"
    assert str(out["rank"].dtype) == "int64"


def test_select_token_budget_boundary_semantics(spark):
    """The histogram-threshold decomposition must match ordered-prefix
    cumsum semantics exactly: full tiers above the threshold, an
    id-ordered partial prefix INSIDE the threshold tie group, nothing
    below; everything-fits and nothing-fits edges; bound + validation
    errors."""
    import pytest

    from gqlite_spark.operators.sampling import select_token_budget
    rows = [  # (doc_id, quality, n_tokens)
        (1, 3.0, 10), (2, 3.0, 10),            # tier 3.0: 20 tokens
        (3, 2.0, 10), (4, 2.0, 10), (5, 2.0, 10),  # tier 2.0: 30
        (6, 1.0, 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, quality double,"
                                     " n_tokens long")
    # budget 45: all of tier 3.0 (20) + prefix of tier 2.0 by id
    # (10+10=40 <= 45-20=25? no: rem=25 -> ids 3,4 (20<=25), id 5
    # would make 30>25) -> {1,2,3,4}
    got = {r["doc_id"] for r in select_token_budget(df, 45).collect()}
    assert got == {1, 2, 3, 4}
    # budget 5: first doc (10 tokens) already overflows -> empty
    assert select_token_budget(df, 5).count() == 0
    # budget >= total (55): identity
    assert select_token_budget(df, 55).count() == 6
    # exact tier boundary: budget 20 takes exactly tier 3.0
    assert ({r["doc_id"] for r in select_token_budget(df, 20).collect()}
            == {1, 2})
    with pytest.raises(ValueError, match="budget"):
        select_token_budget(df, -1)
    with pytest.raises(ValueError, match="histogram"):
        select_token_budget(df, 45, max_distinct_order_values=2)


def test_hybrid_topk_rrf_semantics(spark):
    """RRF fusion: ids in BOTH legs outrank single-leg ids of similar
    rank; absent-leg ranks report 0; ties break on id; output dtypes
    gate-shaped."""
    from gqlite_spark.operators.similarity import hybrid_topk
    docs = spark.createDataFrame(
        [(1, "apple apple apple"),       # sparse #1
         (2, "apple banana pad pad"),    # sparse #1 (banana is rare)
         (3, "nothing relevant here"),   # sparse absent
         (4, "apple pad pad pad pad")],  # sparse #3
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]),
         (3, [0.9, 0.1]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = (hybrid_topk(docs, emb, [1.0, 0.0], ["apple", "banana"],
                       k=4, k_each=3)
           .withColumnRenamed("id", "doc_id")).toPandas()
    r = {row.doc_id: row for row in out.itertuples()}
    # doc 2: dense #1 AND sparse #1 (rare 'banana' dominates BM25)
    # -> fused first
    assert out.iloc[0]["doc_id"] == 2
    assert r[2].rank_dense == 1 and r[2].rank_sparse == 1
    # doc 4: dense absent (rank 0), sparse #3
    assert r[4].rank_dense == 0 and r[4].rank_sparse == 3
    # doc 3: dense #2, sparse absent
    assert r[3].rank_dense == 2 and r[3].rank_sparse == 0
    # fused score is the integer sum of the two quantized contributions
    assert r[2].rrf_e6 == 2 * round(1e6 / 61)
    assert r[3].rrf_e6 == round(1e6 / 62)
    assert all(str(out[c].dtype) == "int64"
               for c in ("rank", "rank_dense", "rank_sparse", "rrf_e6"))


def test_cross_jaccard_pairs_decontamination(spark):
    """Cross-corpus near-dup: a lightly rephrased benchmark doc is
    caught (word-trigram Jaccard), disjoint docs produce NO pairs,
    and the emitted Jaccard is the exact set value."""
    from gqlite_spark.operators.dedup import cross_jaccard_pairs
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated content about spark shuffles"),
         (3, "a b c d e f g")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the sleepy dog"),
         (101, "x y z w v u t")],
        "doc_id long, text string")
    out = cross_jaccard_pairs(train, bench, threshold=0.3).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in out] == [(1, 100)]
    # exact value: train 7 distinct trigrams, bench 7, shared 5
    # ('the quick brown','quick brown fox','brown fox jumps',
    #  'fox jumps over','jumps over the') -> round(5/9, 4)
    assert abs(out[0]["jaccard"] - 0.5556) < 1e-9
    # identical doc across corpora -> jaccard 1.0
    out2 = cross_jaccard_pairs(
        train, train.withColumnRenamed("doc_id", "doc_id"),
        threshold=0.99).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in out2} == {
        (1, 1), (2, 2), (3, 3)}
    assert all(r["jaccard"] == 1.0 for r in out2)
