"""Tests for the LLM-pipeline operators whose hashing is engine-specific
(no DuckDB oracle): MinHash/LSH recall against exact Jaccard, SimHash
properties, hyperplane-LSH and IVF recall against brute force, and the
multimodal pandas-UDF plumbing."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ddf_flink_spark.functions.dedup import (
    dedup_exact,
    exact_duplicates,
    jaccard_candidates,
    minhash_lsh_candidates,
    simhash,
    simhash_near_duplicates,
)
from ddf_flink_spark.functions.multimodal import (
    attach_fake_media,
    decode_media,
    extract_features,
    frame_sample_plan,
)
from ddf_flink_spark.functions.similarity import brute_force_topk, ivf_build, ivf_topk, lsh_topk
from ddf_flink_spark.functions.text import language_id, quality_score

from .conftest import SF_DIR

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees all day"
)


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """Planted corpus: 0/1 near-identical, 2 identical to 0, 3-5 unrelated."""
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),
        (2, BASE),
        (3, "completely different text about spark partitions and shuffle behavior at scale"),
        (4, "yet another unrelated document discussing parquet column pruning and pushdown"),
        (5, "numbers 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20 and nothing else"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(near_dup_corpus):
    groups = exact_duplicates(near_dup_corpus).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0
    kept = dedup_exact(near_dup_corpus)
    assert kept.count() == 5
    assert kept.filter(F.col("doc_id") == 2).count() == 0  # loser dropped


def test_jaccard_finds_planted_pair(near_dup_corpus):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_candidates(near_dup_corpus, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5
    assert pairs[(0, 2)] == 1.0
    assert (3, 4) not in pairs


def test_minhash_lsh_recall(near_dup_corpus):
    cands = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(near_dup_corpus).collect()}
    # identical pair always collides; high-jaccard pair should at this size
    assert (0, 2) in cands
    assert (0, 1) in cands
    assert (3, 4) not in cands  # unrelated docs don't collide


def test_minhash_lsh_recall_on_testdata(spark):
    """On the driver corpus, LSH candidates must cover most true
    Jaccard>=0.7 pairs (the S-curve guarantee region for 32/8 banding)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"]) for r in jaccard_candidates(docs, threshold=0.7).collect()
    }
    if not truth:
        pytest.skip("no Jaccard>=0.7 pairs at this SF")
    cands = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    recall = len(truth & cands) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(truth)} true pairs"


def test_simhash_properties(spark):
    df = spark.createDataFrame([(0, BASE), (1, BASE)], "doc_id long, text string")
    sigs = [r["s"] for r in df.select(simhash("text").alias("s")).collect()]
    assert sigs[0] == sigs[1]  # identical text → identical signature
    pairs = simhash_near_duplicates(
        spark.createDataFrame([(0, BASE), (1, BASE + " extra"), (2, "totally different words here")],
                              "doc_id long, text string"),
        max_hamming=10,
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert (0, 1) in got and got[(0, 1)] <= 10
    assert (0, 2) not in got


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=3).collect()
    # the synthetic embeddings are near-random (top cosine ~0.5), so the
    # S-curve needs narrow signatures and many tables for decent recall
    approx = lsh_topk(q, emb, k=3, dim=64, bits=4, tables=16).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, f"LSH ANN recall {recall:.2f}"
    # every approx result must be a genuine (non-self) scored pair
    assert all(r["query_id"] != r["neighbor_id"] for r in approx)


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = ivf_build(emb, n_lists=8)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(q, emb, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(q, assigned, centroids, k=3, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world document"), (2, "another fake image source text")],
        "doc_id long, text string",
    )
    media = attach_fake_media(docs, "doc_id", "text")
    assert media.columns == ["media_id", "kind", "mime", "width", "height", "duration_ms", "content"]
    assert dict(media.dtypes)["content"] == "binary"
    feats = extract_features(media, out_dim=8)
    rows = feats.collect()
    assert len(rows) == 2 and all(len(r["features"]) == 8 for r in rows)
    # determinism: same input → same fake features
    again = extract_features(media, out_dim=8).collect()
    assert [r["features"] for r in sorted(rows, key=lambda r: r["media_id"])] == [
        r["features"] for r in sorted(again, key=lambda r: r["media_id"])
    ]
    # real decode has no extractor for the fake mime: per-row ValueError
    # (video/mp4 rows DO decode for real — see test_decode_media_mp4)
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="no generic feature extractor"):
        decode_media(media, deterministic_fake=False).collect()


def test_frame_sample_plan(spark):
    vids = spark.createDataFrame([(1, 3500), (2, 500)], "media_id long, duration_ms int")
    plan = frame_sample_plan(vids, every_ms=1000)
    got = {(r["media_id"], r["frame_ts_ms"]) for r in plan.collect()}
    assert got == {(1, 0), (1, 1000), (1, 2000), (2, 0)}


def test_language_id_planted(spark):
    """The heuristic on genuine per-language snippets. (The driver's
    synthetic documents carry a ``lang`` label but English-ish word-salad
    text, so label accuracy there is meaningless — the q35 oracle instead
    pins cross-engine agreement of the prediction.)"""
    rows = [
        ("en", "the cat is in the house and the dog is with the birds"),
        ("de", "der hund ist nicht mit der katze und das haus ist zu klein"),
        ("fr", "le chat est dans la maison et les oiseaux sont pour le chien"),
        ("es", "el perro es grande y los gatos en la casa por una ventana"),
        ("zh", "猫在房子里狗和鸟在外面天气很好今天我们去公园散步"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    preds = {r["lang"]: r["p"] for r in df.select("lang", language_id("text").alias("p")).collect()}
    assert preds == {lang: lang for lang, _ in rows}, preds


def test_quality_score_range(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mm = docs.select(quality_score("text").alias("q")).agg(F.min("q"), F.max("q")).first()
    assert 0.0 <= mm[0] <= mm[1] <= 1.0


def test_connected_components_transitivity(spark):
    """A~B, B~C (no A~C pair) must cluster {A,B,C} together; isolated
    nodes stay their own cluster."""
    from ddf_flink_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "src long, dst long"
    )
    got = {r["id"]: r["cluster"] for r in connected_components(edges, nodes).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}


def test_connected_components_driver_path_matches_loop(spark, monkeypatch):
    """Round-13 pin: the size-gated driver union-find fast path must
    produce EXACTLY the distributed min-label loop's (id, cluster) rows —
    on a graph with chains, merges via a later edge, duplicate and
    reversed pairs, self-loops, isolated nodes, and string ids."""
    import random

    from ddf_flink_spark.functions.dedup import connected_components

    rng = random.Random(13)
    n = 120
    edges_py = {(rng.randrange(n), rng.randrange(n)) for _ in range(150)}
    edges_py |= {(5, 6), (6, 5), (7, 7)}  # reversed dup + self-loop
    nodes = spark.createDataFrame([(i,) for i in range(n + 10)], "id long")
    edges = spark.createDataFrame(sorted(edges_py), "src long, dst long")

    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")  # force the loop
    looped = sorted(
        tuple(r) for r in connected_components(edges, nodes).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "100000")  # force driver
    fast = sorted(tuple(r) for r in connected_components(edges, nodes).collect())
    assert fast == looped

    # string ids: lexical min labels on the fast path (the distributed
    # loop's DECIMAL convergence metric has never accepted string ids,
    # so no loop comparison is possible — pre-existing limitation)
    snodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("z",)], "id string"
    )
    sedges = spark.createDataFrame([("b", "a"), ("b", "c")], "src string, dst string")
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "100000")
    s_fast = sorted(tuple(r) for r in connected_components(sedges, snodes).collect())
    assert s_fast == [("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")]

    # null endpoints fall back to the loop (same result either way)
    nedges = spark.createDataFrame(
        [(0, 1), (2, None)], "src long, dst long"
    )
    n_fast = sorted(
        tuple(r) for r in connected_components(nedges, nodes.limit(4)).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    n_loop = sorted(
        tuple(r) for r in connected_components(nedges, nodes.limit(4)).collect()
    )
    assert n_fast == n_loop

    # empty edge set: every node isolated, no VALUES frame needed
    eedges = spark.createDataFrame([], "src long, dst long")
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "100000")
    e_fast = sorted(
        tuple(r) for r in connected_components(eedges, nodes.limit(3)).collect()
    )
    assert e_fast == [(0, 0), (1, 1), (2, 2)]


def test_resize_media_real_nearest_neighbor(spark):
    """resize_media is a REAL nearest-neighbor resample now: PPM/BMP/PNG
    decode to pixels, the output is a valid P6 with the resampled bytes,
    and a 2x upscale of a 1x1 image replicates its single pixel. Fake/
    undecodable bytes RAISE instead of silently producing noise."""
    import pytest as _pytest

    from ddf_flink_spark.functions.multimodal import (
        attach_ppm_media,
        decode_ppm,
        resize_media,
    )

    docs = spark.createDataFrame([(1,), (2,), (27,)], "doc_id long")
    media = attach_ppm_media(docs, "doc_id")
    resized = resize_media(media, target_w=32, target_h=24)
    assert resized.columns == media.columns  # layout-preserving
    rows = resized.collect()
    assert all(r["width"] == 32 and r["height"] == 24 for r in rows)
    hdr = b"P6\n32 24\n255\n"
    assert all(bytes(r["content"]).startswith(hdr) for r in rows)
    assert all(len(bytes(r["content"])) == len(hdr) + 3 * 32 * 24 for r in rows)
    # the resample is a genuine pixel operation: resizing the resized
    # P6 back down still decodes, and means stay inside [0, 255]
    stats = decode_ppm(resized).collect()
    assert all(0.0 <= s["mean_r"] <= 255.0 for s in stats)
    # deterministic
    again = {r["media_id"]: bytes(r["content"]) for r in resize_media(media, 32, 24).collect()}
    assert {r["media_id"]: bytes(r["content"]) for r in rows} == again

    fake = attach_fake_media(
        spark.createDataFrame([(9, "not an image")], "doc_id long, text string"),
        "doc_id",
        "text",
    )
    with _pytest.raises(Exception, match="undecodable media bytes"):
        resize_media(fake, 4, 4).collect()


def test_binary_file_source(spark, tmp_path_factory):
    from ddf_flink_spark.functions.multimodal import resize_media
    from ddf_flink_spark.sources.binary import load_binary_dir

    d = tmp_path_factory.mktemp("media")
    (d / "a.png").write_bytes(b"\x89PNG fake bytes")
    (d / "b.mp4").write_bytes(b"\x00\x00ftyp fake video")
    (d / "notes.txt").write_bytes(b"not media")

    all_files = load_binary_dir(spark, str(d))
    got = {r["kind"] for r in all_files.collect()}
    assert got == {"image", "video", "binary"}

    imgs = load_binary_dir(spark, str(d), glob="*.png")
    rows = imgs.collect()
    assert len(rows) == 1 and rows[0]["mime"] == "image/png"
    assert bytes(rows[0]["content"]) == b"\x89PNG fake bytes"
    # media_id is deterministic over the path
    assert rows[0]["media_id"] == load_binary_dir(spark, str(d), glob="*.png").collect()[0]["media_id"]
    # composes with the resize step (canonical layout minus the path
    # col) — and since resize became a REAL decode, the fake PNG bytes
    # must fail loudly instead of producing noise
    import pytest as _pytest

    with _pytest.raises(Exception):
        resize_media(imgs.drop("path"), 16, 16).collect()


def test_redact_pii_semantics(spark):
    """No email/IP pattern survives redaction; clean text is unchanged."""
    import re

    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.text import EMAIL_RE, IPV4_RE, redact_pii

    rows = [
        ("reach me at jane.doe+x@sub.example.org thanks",),
        ("server 192.168.001.7 then 8.8.8.8 done",),
        ("no pii here at all",),
        ("both a@b.io and 10.0.0.1 present",),
    ]
    df = spark.createDataFrame(rows, ["t"]).withColumn("r", redact_pii("t"))
    out = {row["t"]: row["r"] for row in df.collect()}
    for t_in, r_out in out.items():
        assert not re.search(EMAIL_RE, r_out)
        assert not re.search(IPV4_RE, r_out)
    assert out["no pii here at all"] == "no pii here at all"
    assert out["both a@b.io and 10.0.0.1 present"] == "both <EMAIL> and <IP> present"


def test_token_chunks_cover_and_overlap(spark):
    """Every token appears in ≥1 chunk; no chunk is contained in its
    predecessor; original casing is preserved; stitching chunks (dropping
    each successor's overlap) reconstructs the document."""
    from ddf_flink_spark.functions.text import token_chunks

    size, stride = 8, 5
    text = " ".join(f"w{i}" for i in range(23))
    df = spark.createDataFrame(
        [(1, text), (2, "Short Doc"), (3, " ".join(f"t{i}" for i in range(6)))],
        ["doc_id", "text"],
    )
    ch = (
        token_chunks(df, "text", "doc_id", size=size, stride=stride)
        .orderBy("id", "chunk_id")
        .collect()
    )
    by_doc = {}
    for row in ch:
        by_doc.setdefault(row["id"], []).append(row)
    # doc 1 (23 tokens): starts 1,6,11,16 — the start at 21 would be fully
    # inside the window at 16 (which already reaches token 23), so no
    # degenerate tail chunk is emitted
    chunks = [r["chunk_text"].split(" ") for r in by_doc[1]]
    assert [r["chunk_tokens"] for r in by_doc[1]] == [8, 8, 8, 8]
    stitched = chunks[0] + [c for ck in chunks[1:] for c in ck[size - stride:]]
    assert stitched == text.split(" ")
    for prev, nxt in zip(chunks, chunks[1:]):
        assert prev[stride:] == nxt[: size - stride][: len(prev) - stride]
    # doc 2 fits in one window and keeps its original casing
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "Short Doc"
    # doc 3 (6 tokens, fits in one window): start 6 would be redundant
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_tokens"] == 6


def test_md5_long_matches_hashlib(spark):
    """The cross-engine hash contract: md5_long == int(md5 hex[:15], 16),
    salted form prepends '<salt>:'. Pinned against Python's hashlib on
    ASCII, unicode, empty, and whitespace-heavy strings so the DuckDB
    oracle emission and any third engine agree by construction."""
    import hashlib

    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.dedup import md5_long

    vals = ["", "a", "hello world", "naïve café ☃", "  spaced  out  ",
            "x" * 500, "tab\tsep", "0:prefixed", "émoji 🎉 mix"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: (r["h"], r["hs"]) for r in df.select(
        "s", md5_long("s").alias("h"), md5_long(F.col("s"), salt=7).alias("hs")
    ).collect()}
    for v in vals:
        exp = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        exp_s = int(hashlib.md5(f"7:{v}".encode()).hexdigest()[:15], 16)
        assert got[v] == (exp, exp_s), v


def test_srp_signature_matches_python_reference(spark):
    """Differential: the SRP signature (q151) recomputed in pure Python
    (hashlib planes + exact integer dots) equals the Spark expression for
    every embedding row at sf0.001."""
    import hashlib

    from ddf_flink_spark.functions.similarity import srp_signature_crossengine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()

    def sign(i, d):
        return 1 if int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1

    def py_sig(vec):
        q = [round(float(x) * 10000) for x in vec]
        s = 0
        for i in range(16):
            dot = sum(qd * sign(i, d) for d, qd in enumerate(q))
            if dot >= 0:
                s |= 1 << i
        return s

    expected = {r["vec_id"]: py_sig(r["embedding"]) for r in rows}
    got = {r["id"]: r["sig"] for r in srp_signature_crossengine(emb).collect()}
    assert got == expected


def test_bigram_lm_scores_closed_form(spark):
    # tiny corpus, hand-computable: model trained on BOTH docs
    import math

    from ddf_flink_spark.functions.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    # unigrams: a:3 b:3 c:1  V=3
    # bigrams:  (a,b):3 (b,a):1 (b,c):1
    out = {r["id"]: r for r in bigram_lm_scores(df, "text", "doc_id").collect()}
    V = 3

    def p(cb, cu):
        return (cb + 1) / (cu + V)

    # doc1 bigrams: (a,b),(b,a),(a,b) ; doc2: (a,b),(b,c)
    for doc, bgs in {1: [(3, 3), (1, 3), (3, 3)], 2: [(3, 3), (1, 3)]}.items():
        nlls = [round(-math.log(p(cb, cu)), 6) for cb, cu in bgs]
        ppl = round(math.exp(sum(nlls) / len(nlls)), 4)
        assert out[doc]["n_bigrams"] == len(bgs)
        assert float(out[doc]["ppl"]) == ppl
    # single-token doc produces no bigrams and drops out
    df2 = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert bigram_lm_scores(df2, "text", "doc_id").count() == 0


def test_quantize_embeddings_codes_and_clamp(spark):
    from ddf_flink_spark.functions.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [0.5, 2.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # dim scales: max|x|/127 -> 1/127, 2/127
    out = {r["id"]: r["codes"] for r in quantize_embeddings(df).collect()}
    assert out[1] == [127, -127]
    assert out[2] == [64, 127]  # floor(0.5*127 + 0.5) = floor(64.0) = 64
    assert out[3] == [-127, 0]


def test_jsonl_source_inference_and_roundtrip(spark, tmp_path_factory):
    from ddf_flink_spark.sources.jsonl import (
        infer_jsonl_schema,
        read_jsonl,
        write_jsonl,
    )

    # lattice: int+double -> double; null-skipping; bool kept; mixed -> string
    schema = infer_jsonl_schema(
        ['{"a": 1, "b": null, "c": true, "d": 2}', '{"a": 1.5, "b": "x", "c": false, "d": "y"}']
    )
    assert schema == "a double, b string, c boolean, d string"

    df = spark.createDataFrame(
        [(1, "hello world", 0.5), (2, "bye", -1.0)], "id long, text string, w double"
    )
    target = str(tmp_path_factory.mktemp("jsonl")) + "/out"
    write_jsonl(df, target, compression="gzip")
    back = read_jsonl(spark, target)
    assert dict(back.dtypes) == {"id": "bigint", "text": "string", "w": "double"}
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_pack_sequences_partition_invariant_and_exhaustive(spark):
    from ddf_flink_spark.functions.packing import exclusive_prefix_sum, pack_sequences

    docs = [(i, " ".join(f"t{j}" for j in range(3 + (i * 7) % 40))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pack_sequences(df, context=64).collect()
    # every token of every doc is assigned exactly once, in order
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    for i, text in docs:
        n = len(text.split(" "))
        rows = sorted(by_doc[i], key=lambda r: r["window_id"])
        assert rows[0]["tok_start"] == 0
        assert rows[-1]["tok_end"] == n
        for a, b in zip(rows, rows[1:]):
            assert a["tok_end"] == b["tok_start"]  # contiguous, no gap/overlap
    # each full window holds exactly `context` tokens
    win_tokens: dict[int, int] = {}
    for r in out:
        win_tokens[r["window_id"]] = win_tokens.get(r["window_id"], 0) + r["n_tokens"]
    total = sum(len(t.split(" ")) for _, t in docs)
    assert sum(win_tokens.values()) == total
    full_windows = sorted(win_tokens)[:-1]
    assert all(win_tokens[w] == 64 for w in full_windows)
    # layout is partitioning-invariant (the distributed-scan contract)
    out_repart = pack_sequences(df.repartition(13), context=64).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out_repart))
    # prefix sum with explicit partition count agrees too
    counts = df.selectExpr("doc_id AS id", "CAST(size(split(text, ' ')) AS LONG) AS n")
    a = {r["id"]: r["offset"] for r in exclusive_prefix_sum(counts, "n", "id").collect()}
    b = {
        r["id"]: r["offset"]
        for r in exclusive_prefix_sum(counts, "n", "id", num_partitions=7).collect()
    }
    assert a == b


def test_quantize_zero_dimension_and_empty_lm(spark):
    from ddf_flink_spark.functions.similarity import quantize_embeddings
    from ddf_flink_spark.functions.text import bigram_lm_scores

    # an all-zero dimension must quantize to code 0, not divide-by-zero
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-2.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {r["id"]: r["codes"] for r in quantize_embeddings(df).collect()}
    assert out[1] == [64, 0] and out[2] == [-127, 0]
    # an empty corpus scores no documents (no crash on vocab=0)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bigram_lm_scores(empty).count() == 0


def test_fuzzy_near_duplicates_semantics(spark):
    """Identical prefixes → sim 1.0; one-char edit on a 10-char prefix
    → sim 0.9; unrelated texts are blocked out entirely."""
    from ddf_flink_spark.functions.dedup import fuzzy_near_duplicates

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, base.replace("kappa", "kappb")),  # 1-char edit near the end
        (3, "totally different words with no shared trigrams here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = fuzzy_near_duplicates(
        df, n=3, min_shared=2, prefix_len=200, threshold=0.5
    ).collect()
    pairs = {(r.id_a, r.id_b): r.edit_sim for r in out}
    assert pairs[(0, 1)] == 1.0
    assert 0.9 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_kmv_distinct_accuracy(spark):
    """KMV estimate lands within 3 rel-σ (= 3/sqrt(k-2)) of the truth on
    a 10k-distinct column, and the sketch is the k smallest fractions."""
    from ddf_flink_spark.functions.sketches import kmv_distinct, kmv_fractions

    n, k = 10_000, 256
    df = spark.range(n).select(F.col("id").alias("v"))
    est = kmv_distinct(df, "v", k=k).collect()[0]
    assert est.k == k
    rel_err = abs(est.est_distinct - n) / n
    assert rel_err < 3.0 / (k - 2) ** 0.5, rel_err
    fr = [r.u for r in kmv_fractions(df, "v", k=k).collect()]
    assert len(fr) == k and fr == sorted(fr) and all(0 < u < 1 for u in fr)


def test_kmv_small_range_holds_all_values(spark):
    """Below k distinct values the sketch holds every distinct hash."""
    from ddf_flink_spark.functions.sketches import kmv_fractions

    df = spark.range(40).select((F.col("id") % 7).alias("v"))
    assert kmv_fractions(df, "v", k=256).count() == 7


def test_bm25_ranks_term_frequency(spark):
    """A doc stuffed with the query term outranks one mentioning it once;
    docs without any query term don't appear; empty query raises."""
    from ddf_flink_spark.functions.retrieval import bm25_topk

    rows = [
        (0, "spark spark spark spark runs fast"),
        (1, "spark is one of many engines here today"),
        (2, "duck goose swan heron stork crane ibis"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["spark"], topk=10).collect()
    assert [r.doc_id for r in out] == [0, 1]
    assert out[0].bm25 > out[1].bm25 > 0
    with pytest.raises(ValueError):
        bm25_topk(df, [])


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; C4 (square) has none; a hub star has none —
    the degree orientation must not lose or double-count any."""
    from ddf_flink_spark.functions.graph import triangle_count

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], ["u", "v"]
    )
    r = triangle_count(k4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)

    square = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (0, 3)], ["u", "v"])
    assert triangle_count(square).collect()[0].n_triangles == 0

    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["u", "v"])
    assert triangle_count(star).collect()[0].n_triangles == 0


def test_cdc_chunks_insertion_locality(spark):
    """The CDC property: inserting one token near the front changes only
    the chunk(s) around the edit — most fingerprints survive, whereas
    fixed-stride chunking would shift every downstream chunk."""
    from ddf_flink_spark.functions.text import cdc_chunks

    import random
    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base = [rng.choice(words) for _ in range(400)]
    edited = base[:5] + ["INSERTED"] + base[5:]
    df = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(edited))], ["doc_id", "text"]
    )
    rows = cdc_chunks(df, window=4, divisor=8).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r.id].add(r.fp)
    n_base = len(fps[0])
    shared = len(fps[0] & fps[1])
    # all but the chunk(s) covering the edit keep their fingerprints
    assert shared >= n_base - 3, (n_base, shared)
    # token conservation: every token lands in exactly one chunk
    tok_sum = {r.id: 0 for r in rows}
    for r in rows:
        tok_sum[r.id] += r.n_toks
    assert tok_sum == {0: 400, 1: 401}


def test_countmin_upper_bound_property(spark):
    """CMS estimates are always >= truth, and with a grid much larger
    than the key space they are exact for every probed key."""
    from ddf_flink_spark.functions.sketches import (
        countmin_counters,
        countmin_estimate,
    )

    df = spark.range(3000).select((F.col("id") % 100).alias("v"))
    counters = countmin_counters(df, "v", depth=4, width=1024)
    est = {
        r.key: r.est
        for r in countmin_estimate(
            spark, counters, ["0", "57", "99", "12345"], depth=4, width=1024
        ).collect()
    }
    assert est["0"] == 30 and est["57"] == 30 and est["99"] == 30
    assert est["12345"] >= 0  # absent key: bounded above by collisions only


def test_pca_power_iteration_recovers_planted_direction(spark):
    """Vectors spread along axis 0 with small noise on axis 1: the top
    component concentrates on dim 0 and the eigenvalue approximates the
    axis-0 variance; the loading vector is unit-norm."""
    from ddf_flink_spark.functions.similarity import pca_power_iteration

    rows = [(i, [float(i - 10), 0.01 * (i % 3 - 1), 0.0, 0.0]) for i in range(21)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pca_power_iteration(df, iters=2).collect()
    load = {r.dim: r.loading for r in out}
    assert abs(abs(load[0]) - 1.0) < 1e-3
    assert all(abs(load[d]) < 0.05 for d in (1, 2, 3))
    var0 = sum((i - 10) ** 2 for i in range(21)) / 21
    assert abs(out[0].eigval - var0) / var0 < 0.05
    norm = sum(v * v for v in load.values()) ** 0.5
    assert abs(norm - 1.0) < 1e-3


def test_prefix_filter_jaccard_prunes_and_stays_exact(spark):
    """On a Zipfian corpus with doc-specific rare tokens the prefix
    index generates far fewer candidate pairs than the full inverted
    index while producing the IDENTICAL result set."""
    import random

    from pyspark.sql.window import Window

    from ddf_flink_spark.functions.dedup import prefix_filter_jaccard

    rng = random.Random(11)
    common = [f"common{i}" for i in range(8)]
    docs = []
    for d in range(60):
        toks = [rng.choice(common) for _ in range(20)] + [f"rare{d}_{j}" for j in range(10)]
        rng.shuffle(toks)
        docs.append((d, " ".join(toks)))
    # plant one near-identical pair
    docs.append((60, docs[0][1]))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    out = {(r.id_a, r.id_b): r.jaccard for r in prefix_filter_jaccard(df, threshold=0.7).collect()}
    assert (0, 60) in out and out[(0, 60)] == 1.0

    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias("tok"),
    )
    full = (
        toks.alias("a")
        .join(toks.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id"), F.col("b.id")).distinct().count()
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("id").orderBy(F.col("tf").asc(), F.col("tok").asc())
    prefix = (
        toks.join(freq, "tok")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "id")
        .filter(F.col("pos") <= F.col("sz") - F.ceil(F.lit(0.7) * F.col("sz")) + 1)
        .select("id", "tok")
    )
    pruned = (
        prefix.alias("a")
        .join(prefix.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id"), F.col("b.id")).distinct().count()
    )
    assert pruned * 10 < full, (pruned, full)


def test_prefix_filter_verify_is_pairwise_not_postings(spark):
    """The verify stage must cost O(candidate pairs), not O(postings²):
    the plan may contain exactly TWO token-equality joins — freq attach
    (postings ⋈ vocab) and the prefix candidate self-join — and NO third
    (the old verify self-joined candidate docs' full posting lists on
    raw token, re-doing the unfiltered join's work on corpora where most
    docs are candidates, stop-token explosion included). Also re-checks
    the full result set equals the brute-force exact join on a Zipf
    corpus, since the verify rewrite must stay lossless."""
    import random
    import re

    from ddf_flink_spark.functions.dedup import (
        jaccard_candidates,
        prefix_filter_jaccard,
    )

    rng = random.Random(13)
    common = [f"common{i}" for i in range(6)]
    docs = []
    for d in range(40):
        toks = [rng.choice(common) for _ in range(15)] + [f"rare{d}_{j}" for j in range(6)]
        rng.shuffle(toks)
        docs.append((d, " ".join(toks)))
    docs.append((40, docs[3][1]))  # exact dup
    docs.append((41, docs[5][1] + " extraword"))  # near dup
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    out = prefix_filter_jaccard(df, threshold=0.6)
    # candidate generation sits behind cand's localCheckpoint, so the
    # final plan's joins are exactly the verify stage: two id-equi-joins
    # picking up token ARRAYS + one array_intersect per pair. Any
    # tok-level equality join here means verify is back on postings.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    token_joins = re.findall(r"tok#\d+L? = tok#\d+L?", plan)
    assert token_joins == [], (
        f"verify stage joins postings on raw token again: {token_joins}"
    )
    assert "array_intersect" in plan

    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    # brute-force exact token-set jaccard via the 1-gram inverted index
    # (jaccard_candidates over whole-token "shingles" == token sets here
    # because every token is a distinct 1-gram)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_candidates(df, threshold=0.6, n=1).collect()
    }
    assert got == exact
    assert (3, 40) in got and got[(3, 40)] == 1.0


def test_pq_search_finds_identical_vector(spark):
    """A vector identical to the query shares all m codes, so its ADC
    distance is the minimum possible — it must rank first."""
    import random

    from ddf_flink_spark.functions.similarity import pq_search

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    rows.append((99, list(rows[0][1])))  # clone of the min-id (query) vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_search(df, m=4, k=4, iters=2, topk=3).collect()
    assert out[0].neighbor_id == 99
    dists = [r.pq_dist2 for r in out]
    assert dists == sorted(dists)


def test_kmv_exact_below_k_and_null_exclusion(spark):
    """Below k distinct values the estimate IS the exact count (the
    (k-1)/u_k estimator would report ~k); NULLs never occupy a slot."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ddf_flink_spark.functions.sketches import kmv_distinct, kmv_fractions

    df = spark.range(3000).select((F.col("id") % 3).alias("v"))
    est = kmv_distinct(df, "v", k=256).collect()[0]
    assert est.est_distinct == 3.0

    schema = StructType([StructField("v", LongType(), True)])
    withnull = spark.createDataFrame([(None,), (1,), (2,)], schema)
    fr = kmv_fractions(withnull, "v", k=8).collect()
    assert len(fr) == 2 and all(r.u is not None for r in fr)


def test_prefix_filter_exact_at_ieee_hostile_threshold(spark):
    """threshold=0.56 on a 25-token doc: IEEE 0.56*25 lands epsilon
    above 14, which would overshoot ceil and shorten the prefix below
    the lossless bound — the epsilon guard must keep the containing
    pair (J = 14/25 = 0.56 exactly)."""
    from ddf_flink_spark.functions.dedup import prefix_filter_jaccard

    a_toks = [f"t{i:02d}" for i in range(25)]
    b_toks = a_toks[11:]  # 14 tokens, subset: J = 14/25 = 0.56
    df = spark.createDataFrame(
        [(0, " ".join(a_toks)), (1, " ".join(b_toks))], ["doc_id", "text"]
    )
    out = prefix_filter_jaccard(df, threshold=0.56).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out] == [(0, 1, 0.56)]


def test_bmp_decode_rejects_non_bmp_and_undoes_layout(spark):
    """decode_bmp raises on foreign bytes, and on a hand-built 2x1 BMP
    it undoes bottom-up + BGR: the decoded mean_r must come from the
    RED byte of the logical TOP row."""
    import struct

    import pytest as _pytest

    from ddf_flink_spark.functions.multimodal import decode_bmp

    # hand-built 24-bit BMP: w=1, h=2; bottom-up rows, BGR channels.
    # logical top pixel RGB = (200, 150, 100); bottom = (10, 20, 30)
    row_bottom = bytes([30, 20, 10]) + b"\x00"   # BGR + pad to 4
    row_top = bytes([100, 150, 200]) + b"\x00"
    img = row_bottom + row_top                    # bottom-up on disk
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 1, 2, 1, 24, 0, len(img), 0, 0, 0, 0)
    good = header + info + img
    df = spark.createDataFrame([(0, bytearray(good))], "media_id long, content binary")
    r = decode_bmp(df).collect()[0]
    assert (r.width, r.height) == (1, 2)
    assert (r.mean_r, r.mean_g, r.mean_b) == (105.0, 85.0, 65.0)

    bad = spark.createDataFrame(
        [(1, bytearray(b"GIF89a not a bmp"))], "media_id long, content binary"
    )
    with _pytest.raises(Exception):
        decode_bmp(bad).collect()

    # negative height = legal TOP-DOWN BMP: rows are already top-first,
    # so the same pixel bytes now mean the OPPOSITE row order
    info_td = struct.pack("<IiiHHIIiiII", 40, 1, -2, 1, 24, 0, len(img), 0, 0, 0, 0)
    td = spark.createDataFrame(
        [(2, bytearray(header + info_td + img))], "media_id long, content binary"
    )
    r2 = decode_bmp(td).collect()[0]
    assert (r2.width, r2.height) == (1, 2)
    assert (r2.mean_r, r2.mean_g, r2.mean_b) == (105.0, 85.0, 65.0)

    # truncated pixel array must fail with the clean ValueError, not an
    # opaque numpy reshape error
    trunc = spark.createDataFrame(
        [(3, bytearray((header + info + img)[:-3]))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="corrupt BMP dimensions"):
        decode_bmp(trunc).collect()


def test_countmin_probe_normalized_for_double_column(spark):
    """The grid hashes CAST(col AS STRING) — for a DOUBLE column that is
    '1.0', not '1'. DDF.frequency_estimates must round-trip bare probe
    strings through the column type so '1' finds the '1.0' buckets."""
    from ddf_flink_spark import DDFManager

    dm = DDFManager(spark)
    df = spark.range(300).select((F.col("id") % 3).cast("double").alias("v"))
    est = {
        r.key: r.est
        for r in dm.new_ddf(df)
        .frequency_estimates("v", ["1", "2.0", "7"])
        .df.collect()
    }
    assert est["1"] == 100  # bare int probe normalized to '1.0'
    assert est["2.0"] == 100  # already-rendered probe unchanged
    assert est["7"] >= 0  # absent key


def test_storage_released_after_checkpointing_operators(spark):
    """Iterative operators checkpoint intermediates into executor
    storage; after their results are consumed and release_all_storage
    runs, getPersistentRDDs must be EMPTY — the round-3 storage leak
    (dead checkpoint blocks accumulating until late-session queries
    degraded by minutes) stays fixed. Also: PCA and the in-loop CC/
    PageRank generations release THEMSELVES — after consuming PCA only
    its zero blocks remain without any explicit release."""
    from ddf_flink_spark.functions.dedup import connected_components
    from ddf_flink_spark.functions.similarity import pca_power_iteration
    from ddf_flink_spark.storage import persistent_rdd_ids, release_all_storage

    release_all_storage(spark)
    assert persistent_rdd_ids(spark) == set()

    # PCA: all internal checkpoints are self-released before return
    rows = [(i, [float(i), 0.1 * i, 0.0, 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pca_power_iteration(emb, iters=2).collect()
    assert persistent_rdd_ids(spark) == set(), "PCA leaked checkpoint blocks"

    # CC: in-loop generation release keeps at most edges + 2 label
    # generations live; release_all_storage clears the remainder once
    # the result is consumed
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(45)], "id long")
    cc = connected_components(edges, nodes, "id", "src", "dst")
    assert cc.count() == 45
    live_during = len(persistent_rdd_ids(spark))
    assert live_during <= 3, f"CC holds {live_during} generations (in-loop release broken)"
    n = release_all_storage(spark)
    assert persistent_rdd_ids(spark) == set()
    assert n == live_during


def test_png_decode_matches_hand_filtered_spec_bytes(spark):
    """decode_png against a PNG whose five scanlines were filtered BY
    HAND from the RFC 2083 definitions (one row per filter type, every
    byte computed manually below) — independent of attach_png_media, so
    a matching encoder/decoder bug pair can't self-certify. Also: CRC
    corruption must be detected."""
    import struct
    import zlib

    import pytest as _pytest

    from ddf_flink_spark.functions.multimodal import decode_png

    # w=2, h=5 RGB; row r uses filter type r. Raw pixel bytes per row:
    # r0 (None):    10,20,30, 40,50,60
    # r1 (Sub):      5,10,15, 25,35,45  -> 5,10,15, 20,25,30
    # r2 (Up):      15,20,25, 35,40,45  -> 10,10,10, 10, 5, 0
    # r3 (Average):100,110,120,130,140,150 -> 93,100,108, 63,65,68
    # r4 (Paeth):  200,10,250,  3,  7,255 -> 100,156,130, 59,253,5
    stream = bytes(
        [0, 10, 20, 30, 40, 50, 60]
        + [1, 5, 10, 15, 20, 25, 30]
        + [2, 10, 10, 10, 10, 5, 0]
        + [3, 93, 100, 108, 63, 65, 68]
        + [4, 100, 156, 130, 59, 253, 5]
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(stream))
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([(0, bytearray(png))], "media_id long, content binary")
    r = decode_png(df).collect()[0]
    assert (r.width, r.height) == (2, 5)
    # channel sums over the 10 raw pixels, computed by hand
    assert (r.mean_r, r.mean_g, r.mean_b) == (56.3, 44.2, 99.5)

    corrupt = bytearray(png)
    corrupt[40] ^= 0xFF  # flip a byte inside IDAT without fixing its CRC
    bad = spark.createDataFrame(
        [(1, bytearray(corrupt))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="CRC mismatch"):
        decode_png(bad).collect()


def test_bloom_filter_no_false_negatives_and_probe_agreement(spark):
    """Every inserted key must test positive (zero false negatives, the
    Bloom guarantee), absent keys are overwhelmingly negative at this
    load factor, and the two probe shapes — plan-literal ``bloom_member``
    and broadcast-join ``bloom_filter_members`` — agree on every key."""
    from ddf_flink_spark.functions.sketches import (
        bloom_build_words,
        bloom_filter_members,
        bloom_member,
    )

    m, k = 4096, 4
    inserted = spark.range(200).select(F.concat(F.lit("key"), F.col("id")).alias("v"))
    words_df = bloom_build_words(inserted, "v", m_bits=m, k=k)
    words = {r.word: r.bits for r in words_df.collect()}

    probes = spark.range(400).select(
        F.concat(F.lit("key"), F.col("id")).alias("v")
    )  # first 200 inserted, last 200 absent
    lit_hits = {
        r.v for r in probes.filter(bloom_member("v", words, m, k)).collect()
    }
    join_hits = {
        r.v for r in bloom_filter_members(probes, "v", words_df, m, k).collect()
    }
    assert lit_hits == join_hits  # the two probe shapes are equivalent
    inserted_set = {f"key{i}" for i in range(200)}
    assert inserted_set <= lit_hits  # NO false negatives
    fp = lit_hits - inserted_set
    # 4096 bits / 200 keys ≈ 20 bits/key → per-key fp ≈ (1-e^-0.195)^4 ≈ 1e-3
    assert len(fp) <= 5, f"implausible false-positive count: {len(fp)}"


def test_histogram_quantile_sketch_error_bound(spark):
    """Every q209 estimate must lie within one bin width of the exact
    quantile (the sketch's guarantee: the true quantile is inside the
    picked bin and interpolation stays inside it too)."""
    from ddf_flink_spark.registry import QUERIES

    rows = QUERIES["q209_histogram_quantile_sketch"](spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    mm = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    bin_width = (mm[1] - mm[0]) / 512
    assert len(rows) == 5
    for r in rows:
        assert r.abs_err <= bin_width + 1e-9, (r.q, r.abs_err, bin_width)


def test_bpe_learn_matches_pure_python_reference(spark):
    """The distributed bpe_learn reproduces the textbook BPE algorithm
    exactly: same merge sequence (greedy argmax, (count desc, left,
    right) tie-break) and same final symbol sequences as an independent
    pure-Python implementation on the same corpus."""
    from ddf_flink_spark.functions.text import bpe_learn
    from ddf_flink_spark.storage import release_all_storage

    docs = [
        "low lower lowest low low",
        "new newer newest new new new",
        "wide wider widest",
        "low new wide low new",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")

    # --- pure-Python reference (classic Sennrich BPE over a freq dict)
    freqs: dict[str, int] = {}
    for d in docs:
        for w in d.lower().split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    vocab = {w: list(w) + ["</w>"] for w in freqs}

    def ref_round():
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freqs[w]
        if not counts:
            return None
        # max count, then lexicographic (left, right) — bpe_learn's order
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        for w, syms in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    merged.append(best[0] + best[1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            vocab[w] = merged
        return best

    ref_merges = [ref_round() for _ in range(6)]

    merges, words = bpe_learn(df, n_merges=6)
    assert merges == ref_merges
    got = {r.word: list(r.symbols) for r in words.collect()}
    assert got == vocab
    assert len(merges) == 6 and all(isinstance(m, tuple) for m in merges)
    release_all_storage(spark)


def test_bloom_build_excludes_nulls(spark):
    """NULL values never occupy sketch words (NULL is not a member of
    any set), and a NULL probe is simply not a member."""
    from ddf_flink_spark.functions.sketches import bloom_build_words, bloom_member

    df = spark.createDataFrame(
        [("x",), (None,), ("y",)], "v string"
    )
    words_df = bloom_build_words(df, "v", m_bits=1024, k=4)
    rows = words_df.collect()
    assert all(r.word is not None for r in rows)
    words = {r.word: r.bits for r in rows}
    probes = spark.createDataFrame([("x",), ("z",)], "v string")
    hits = {r.v for r in probes.filter(bloom_member("v", words, 1024, 4)).collect()}
    assert "x" in hits


def test_quantile_sketch_constant_column(spark):
    """A constant column has every quantile equal to the constant; the
    zero-width bins must not blow up (division by zero path)."""
    from ddf_flink_spark.operators.stats import histogram_quantile_sketch

    df = spark.range(100).select(F.lit(7.5).alias("v"))
    rows = histogram_quantile_sketch(df, "v", quantiles=[0.5, 0.9], bins=32).collect()
    assert len(rows) == 2 and all(r.est_quantile == 7.5 for r in rows)


def test_quantile_sketch_ignores_nulls(spark):
    """NULL rows must be excluded everywhere (n, min/max, bin counts):
    pre-fix, n counted NULL rows while min/max ignored them and the
    NULL-bin row sorted first in the cumulative window, inflating every
    cumulative count. Estimates on 0..999 + 500 NULLs must match the
    NULL-free column within one bin width."""
    from ddf_flink_spark.operators.stats import histogram_quantile_sketch

    clean = spark.range(1000).select(F.col("id").cast("double").alias("v"))
    dirty = clean.unionAll(
        spark.range(500).select(F.lit(None).cast("double").alias("v"))
    )
    bins = 128
    width = 999.0 / bins
    got_clean = {r.q: r.est_quantile for r in
                 histogram_quantile_sketch(clean, "v", bins=bins).collect()}
    got_dirty = {r.q: r.est_quantile for r in
                 histogram_quantile_sketch(dirty, "v", bins=bins).collect()}
    assert got_clean.keys() == got_dirty.keys()
    for q, est in got_dirty.items():
        assert est == got_clean[q], (q, est, got_clean[q])
        assert abs(est - q * 999.0) <= width + 1e-9, (q, est)


# ------------------------------------------------------------------ JPEG
# Spec constants pinned INDEPENDENTLY of the codec (re-derived or quoted
# from ITU-T T.81 in the test itself), so a matching encoder/decoder bug
# pair cannot self-certify through the q219 round-trip.


def test_jpeg_zigzag_matches_diagonal_walk():
    """Re-derive the zigzag order with the standard diagonal walk and
    compare against the codec's table."""
    from ddf_flink_spark.functions.multimodal import JPEG_ZIGZAG

    order = []
    for s in range(15):  # anti-diagonals
        rng = range(s + 1)
        ij = [(i, s - i) for i in rng if i < 8 and s - i < 8]
        if s % 2 == 0:
            ij = ij[::-1]  # even diagonals run bottom-left -> top-right
        order.extend(r * 8 + c for r, c in ij)
    assert order == JPEG_ZIGZAG


def test_jpeg_annexk_tables_spec():
    """Structural + literal checks of the Annex K tables against the
    published spec: table sizes, symbol sets, and the published codes
    for DC-luma category 0 ('00'), AC-luma EOB ('1010') and AC-luma ZRL
    ('11111111001')."""
    from ddf_flink_spark.functions.multimodal import (
        JPEG_AC_CHROMA,
        JPEG_AC_LUMA,
        JPEG_DC_CHROMA,
        JPEG_DC_LUMA,
        _jpeg_canonical_codes,
    )

    for bits, huffval in (JPEG_DC_LUMA, JPEG_DC_CHROMA):
        assert sum(bits) == len(huffval) == 12
        assert sorted(huffval) == list(range(12))
    for bits, huffval in (JPEG_AC_LUMA, JPEG_AC_CHROMA):
        assert sum(bits) == len(huffval) == 162
        assert 0x00 in huffval and 0xF0 in huffval  # EOB + ZRL present
        for sym in huffval:
            size = sym & 0xF
            assert sym in (0x00, 0xF0) or 1 <= size <= 10
    dc = _jpeg_canonical_codes(*JPEG_DC_LUMA)
    assert dc[0] == (0b00, 2)
    assert dc[1] == (0b010, 3) and dc[5] == (0b110, 3)
    ac = _jpeg_canonical_codes(*JPEG_AC_LUMA)
    assert ac[0x00] == (0b1010, 4)  # EOB, published Annex K value
    assert ac[0xF0] == (0b11111111001, 11)  # ZRL, published Annex K value
    # canonical codes must be prefix-free
    codes = sorted((ln, code) for code, ln in ac.values())
    as_str = [format(code, f"0{ln}b") for ln, code in codes]
    for i, a in enumerate(as_str):
        for b in as_str[i + 1 :]:
            assert not b.startswith(a)


def test_jpeg_idct_matches_direct_formula():
    """The matrix IDCT must equal the literal T.81 A.3.3 summation
    (computed here with explicit quadruple loops) on random blocks."""
    import numpy as np

    from ddf_flink_spark.functions.multimodal import _jpeg_dct_matrix

    rng = np.random.default_rng(219)
    m = _jpeg_dct_matrix()
    for _ in range(3):
        coef = rng.integers(-200, 200, (8, 8)).astype(float)
        fast = m.T @ coef @ m
        direct = np.zeros((8, 8))
        for x in range(8):
            for y_ in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
                        cv = (1 / np.sqrt(2)) if v == 0 else 1.0
                        s += (
                            cu * cv * coef[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y_ + 1) * v * np.pi / 16)
                        )
                direct[x, y_] = s / 4.0
        assert np.abs(fast - direct).max() < 1e-9


def test_jpeg_roundtrip_random_within_quant_error():
    """Random (non-constant) planes exercise the AC path: nonzero
    coefficients, run-lengths, dequantization, byte stuffing. The decode
    must stay within the quantization error envelope; a decoder that
    skipped dequantization or mis-ordered the zigzag would blow it."""
    import numpy as np

    from ddf_flink_spark.functions.multimodal import (
        jpeg_decode_baseline,
        jpeg_encode_baseline,
    )

    stuffed_seen = False
    for seed in range(4):
        rng = np.random.default_rng(seed)
        y = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        cb = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        cr = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        blob = jpeg_encode_baseline(y, cb, cr)
        stuffed_seen = stuffed_seen or (b"\xff\x00" in blob)
        w, h, px = jpeg_decode_baseline(blob)
        assert (w, h) == (24, 16)
        yf, cbf, crf = (p.astype(float) for p in (y, cb, cr))
        exp_r = np.clip(np.floor(yf + 1.402 * (crf - 128) + 0.5), 0, 255)
        exp_g = np.clip(
            np.floor(yf - 0.344136 * (cbf - 128) - 0.714136 * (crf - 128) + 0.5),
            0, 255,
        )
        exp_b = np.clip(np.floor(yf + 1.772 * (cbf - 128) + 0.5), 0, 255)
        for ch, exp in ((0, exp_r), (1, exp_g), (2, exp_b)):
            err = np.abs(px[:, :, ch] - exp)
            assert err.max() <= 16, (seed, ch, err.max())
            assert err.mean() <= 3, (seed, ch, err.mean())
    assert stuffed_seen, "no test blob exercised 0xFF byte stuffing"


def test_jpeg_constant_tiles_bit_exact():
    """Constant 8x8 tiles live on the codec's lossless sublattice (DC-only
    blocks, DC quant step 1): the decode must reproduce the planted
    values EXACTLY — the invariant the q219 analytic oracle relies on."""
    import numpy as np

    from ddf_flink_spark.functions.multimodal import (
        jpeg_decode_baseline,
        jpeg_encode_baseline,
    )

    for doc_id in (0, 3, 7, 11):
        w, h = 8 * (2 + doc_id % 3), 8 * (2 + doc_id % 2)
        y = np.zeros((h, w), dtype=np.uint8)
        cb = np.zeros_like(y)
        cr = np.zeros_like(y)
        for j in range(h // 8):
            for i in range(w // 8):
                y[j * 8 :][:8, i * 8 : i * 8 + 8] = 16 + (doc_id + 5 * i + 11 * j) % 224
                cb[j * 8 :][:8, i * 8 : i * 8 + 8] = 16 + (3 * doc_id + 7 * i + 13 * j) % 224
                cr[j * 8 :][:8, i * 8 : i * 8 + 8] = 16 + (7 * doc_id + 11 * i + 3 * j) % 224
        dw, dh, px = jpeg_decode_baseline(jpeg_encode_baseline(y, cb, cr))
        assert (dw, dh) == (w, h)
        yf, cbf, crf = (p.astype(float) for p in (y, cb, cr))
        assert (px[:, :, 0] == np.clip(np.floor(yf + 1.402 * (crf - 128) + 0.5), 0, 255)).all()
        assert (px[:, :, 2] == np.clip(np.floor(yf + 1.772 * (cbf - 128) + 0.5), 0, 255)).all()


def test_jpeg_rejects_progressive():
    """A progressive (SOF2) stream must be refused, not mis-decoded."""
    import numpy as np
    import pytest as _pytest

    from ddf_flink_spark.functions.multimodal import (
        jpeg_decode_baseline,
        jpeg_encode_baseline,
    )

    y = np.full((8, 8), 100, dtype=np.uint8)
    blob = bytearray(jpeg_encode_baseline(y, y, y))
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC2
    with _pytest.raises(AssertionError):
        jpeg_decode_baseline(bytes(blob))


def test_passage_duplication_planted(spark):
    """Two docs share one 10-token boilerplate passage; a third is
    unique: the shared windows (and only those) must count as
    duplicated, per source."""
    from ddf_flink_spark.functions.text import passage_duplication

    boiler = "this content is provided as is without warranty of any kind"
    rows = [
        (0, "a", f"alpha beta gamma {boiler} delta epsilon"),
        (1, "b", f"one two three four five six {boiler} seven eight"),
        (2, "b", "nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in
           passage_duplication(df, group_col="source", n_tokens=8).collect()}
    # the 11-token boilerplate yields 4 shared 8-token windows per doc
    assert got["a"]["n_dup_windows"] == 4
    assert got["b"]["n_dup_windows"] == 4  # doc 1's copies; doc 2 contributes none
    assert got["a"]["dup_rate"] > 0 and got["b"]["dup_rate"] > 0
    assert got["b"]["n_windows"] > got["a"]["n_windows"]


def test_repetition_ratio_planted(spark):
    """A looping doc must score far higher than an all-distinct doc;
    an all-distinct doc scores exactly 0."""
    from ddf_flink_spark.functions.text import repetition_ratio

    rows = [
        (0, " ".join(["spam ham eggs"] * 10)),          # heavy 3-gram repetition
        (1, "a b c d e f g h i j k l m n o p"),         # all 3-grams distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["rep"] for r in repetition_ratio(df).collect()}
    assert got[1] == 0.0
    assert got[0] > 0.8


# ---------------------------------------------------------------- MP4
# The q219 discipline applied to ISO BMFF: the parser is pinned against
# HAND-BUILT byte literals (spec layout written out field by field in
# the test, independent of mp4_encode_container), the writer against
# the parser round-trip, and the distributed path against q241's
# analytic oracle.


def _hand_built_mp4() -> bytes:
    """A minimal ISO BMFF file written field-by-field from the spec
    (ISO/IEC 14496-12 §8.2.2 mvhd, §8.3.2 tkhd), sharing NO code with
    mp4_encode_container: one video track, 640×480, 7 s at timescale
    1000, wrapped with a 64-bit-largesize free box and a size==0 mdat."""
    import struct

    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    ftyp = struct.pack(">I4s", 16, b"ftyp") + b"mp42" + struct.pack(">I", 1)
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0, flags 0
        + struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", 1000, 7000)  # timescale, duration
        + struct.pack(">i", 0x10000)  # rate
        + struct.pack(">hH", 0x0100, 0)  # volume, reserved
        + b"\x00" * 8
        + matrix
        + b"\x00" * 24
        + struct.pack(">I", 2)  # next_track_ID
    )
    mvhd = struct.pack(">I4s", 8 + len(mvhd_body), b"mvhd") + mvhd_body
    tkhd_body = (
        b"\x00\x00\x00\x07"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1, 0)  # track_ID, reserved
        + struct.pack(">I", 7000)  # duration
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)  # layer, alt, volume, reserved
        + matrix
        + struct.pack(">II", 640 << 16, 480 << 16)
    )
    tkhd = struct.pack(">I4s", 8 + len(tkhd_body), b"tkhd") + tkhd_body
    hdlr_body = b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"H\x00"
    hdlr = struct.pack(">I4s", 8 + len(hdlr_body), b"hdlr") + hdlr_body
    mdia = struct.pack(">I4s", 8 + len(hdlr), b"mdia") + hdlr
    trak_body = tkhd + mdia
    trak = struct.pack(">I4s", 8 + len(trak_body), b"trak") + trak_body
    moov_body = mvhd + trak
    moov = struct.pack(">I4s", 8 + len(moov_body), b"moov") + moov_body
    # 64-bit largesize free box (size field == 1, real size follows)
    free = struct.pack(">I4sQ", 1, b"free", 16 + 4) + b"pad!"
    # size==0 mdat: extends to end of file
    mdat = struct.pack(">I4s", 0, b"mdat") + b"\x01\x02\x03"
    return ftyp + moov + free + mdat


def test_mp4_parser_against_hand_built_literal():
    from ddf_flink_spark.functions.multimodal import mp4_parse_container

    m = mp4_parse_container(_hand_built_mp4())
    assert m["major_brand"] == "mp42"
    assert m["timescale"] == 1000
    assert m["duration_ms"] == 7000
    assert m["n_tracks"] == 1
    assert m["n_video_tracks"] == 1
    assert m["n_audio_tracks"] == 0
    assert (m["width"], m["height"]) == (640, 480)


def test_mp4_box_walk_largesize_and_zero_size():
    from ddf_flink_spark.functions.multimodal import mp4_walk_boxes

    blob = _hand_built_mp4()
    types = [t for t, _, _ in mp4_walk_boxes(blob)]
    assert types == [b"ftyp", b"moov", b"free", b"mdat"]
    # the size==0 mdat body must run to EOF
    _, lo, hi = [x for x in mp4_walk_boxes(blob) if x[0] == b"mdat"][0]
    assert blob[lo:hi] == b"\x01\x02\x03" and hi == len(blob)


def test_mp4_malformed_raises():
    from ddf_flink_spark.functions.multimodal import (
        mp4_parse_container,
        mp4_walk_boxes,
    )

    with pytest.raises(ValueError):
        list(mp4_walk_boxes(b"\x00\x00\x00\x20ftyp"))  # size past EOF
    with pytest.raises(ValueError):
        list(mp4_walk_boxes(b"\x00\x00\x00\x04ftypXXXX"))  # size < header
    with pytest.raises(ValueError):
        mp4_parse_container(
            b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00"  # no moov at all
        )


def test_mp4_encode_parse_roundtrip_grid():
    from ddf_flink_spark.functions.multimodal import (
        mp4_encode_container,
        mp4_parse_container,
    )

    for dms, w, h, na, ts in [
        (500, 64, 48, 0, 600),
        (12_125, 1920, 1080, 1, 90_000),
        (3_600_000, 320, 240, 2, 1000),
    ]:
        m = mp4_parse_container(
            mp4_encode_container(dms, w, h, n_audio_tracks=na, timescale=ts)
        )
        assert m["duration_ms"] == dms and (m["width"], m["height"]) == (w, h)
        assert m["n_tracks"] == 1 + na and m["n_audio_tracks"] == na
        assert m["timescale"] == ts and m["major_brand"] == "isom"


def test_decode_media_mp4_real(spark):
    """decode_media no longer raises for video: MP4 rows yield container-
    level features through the real parser."""
    from ddf_flink_spark.functions.multimodal import attach_mp4_media

    docs = spark.createDataFrame([(7,), (12,)], "doc_id long")
    media = attach_mp4_media(docs, "doc_id")
    rows = {
        r["media_id"]: r["features"]
        for r in decode_media(media, out_dim=6, deterministic_fake=False).collect()
    }
    # planted: duration 500+125*(id%97), tracks 1+id%2, video 1,
    # audio id%2, width 16*(4+id%9), height 16*(3+id%7)
    assert rows[7] == [1375.0, 2.0, 1.0, 1.0, 176.0, 48.0]
    assert rows[12] == [2000.0, 1.0, 1.0, 0.0, 112.0, 128.0]


def test_arrow_rerank_matches_jvm_all_topk(spark):
    """rerank='arrow' (vectorized numpy/BLAS scoring) must select the
    SAME neighbors as the JVM HOF path — both accumulate in float64 and
    the round-6 rank discipline absorbs summation-order ulps. Runs all
    three top-k shapes over the real testdata embeddings."""
    from ddf_flink_spark.functions.similarity import ivf_build

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 12)

    def key(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos"]) for r in df.collect()
        )

    assert key(brute_force_topk(q, e, k=4)) == key(
        brute_force_topk(q, e, k=4, rerank="arrow")
    )
    assert key(lsh_topk(q, e, k=4, bits=6, tables=3)) == key(
        lsh_topk(q, e, k=4, bits=6, tables=3, rerank="arrow")
    )
    assigned, cents = ivf_build(e, n_lists=8, quantizer="lloyd")
    assert key(ivf_topk(q, assigned, cents, k=4, nprobe=3)) == key(
        ivf_topk(q, assigned, cents, k=4, nprobe=3, rerank="arrow")
    )
    with pytest.raises(ValueError, match="rerank"):
        brute_force_topk(q, e, k=4, rerank="gpu")


def test_ivfpq_search_finds_identical_vector(spark):
    """IVF-PQ: a clone of the query lands in the query's own cell (the
    first probed list) and shares all m codes — minimum ADC distance,
    rank 1. The probed-cell restriction must also hold: every reported
    neighbor's cell is one of the nprobe probed lists."""
    import random

    from ddf_flink_spark.functions.similarity import ivfpq_search
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(6)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    rows.append((99, list(rows[0][1])))  # clone of the min-id (query) vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out_df = ivfpq_search(df, n_lists=4, nprobe=2, m=4, k=4, iters=2, topk=3)
    out = out_df.collect()
    release_checkpoint(out_df)
    assert out[0].neighbor_id == 99
    dists = [r.pq_dist2 for r in out]
    assert dists == sorted(dists)


def test_ivfadc_residual_finds_identical_vector(spark):
    """Residual IVFADC: a clone of the query shares its cell AND its
    residual codes — minimum ADC distance, rank 1. Residual refinement
    must also hold: the clone's ADC distance is ≤ the raw-PQ (q242
    path) clone distance on the same corpus (residual codebooks
    quantize within-cell variance more tightly)."""
    import random

    from ddf_flink_spark.functions.similarity import ivfadc_search, ivfpq_search
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    rows.append((99, list(rows[0][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    adc_df = ivfadc_search(df, n_lists=4, nprobe=2, m=4, k=4, iters=2, topk=3)
    adc = adc_df.collect()
    release_checkpoint(adc_df)
    assert adc[0].neighbor_id == 99
    assert [r.pq_dist2 for r in adc] == sorted(r.pq_dist2 for r in adc)

    raw_df = ivfpq_search(df, n_lists=4, nprobe=2, m=4, k=4, iters=2, topk=3)
    raw = raw_df.collect()
    release_checkpoint(raw_df)
    clone_adc = next(r.pq_dist2 for r in adc if r.neighbor_id == 99)
    clone_raw = next((r.pq_dist2 for r in raw if r.neighbor_id == 99), None)
    if clone_raw is not None:
        assert clone_adc <= clone_raw + 1e-9


def test_ivfadc_batch_parity_with_single_query(spark):
    """ivfadc_batch_search replays ivfadc_search exactly: for the lowest-id
    query vector, the batch rows (neighbor_id, pq_dist2) equal the
    single-query result, and a wider batch contains that query's rows
    unchanged — the serving generalization must not perturb the
    oracle-pinned chain (q243 vs q244)."""
    import random

    from ddf_flink_spark.functions.similarity import (
        ivfadc_batch_search,
        ivfadc_search,
    )
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(n_lists=4, nprobe=2, m=4, k=4, iters=2, topk=3)

    single_df = ivfadc_search(df, **kw)
    single = [(r.neighbor_id, r.pq_dist2) for r in single_df.collect()]
    release_checkpoint(single_df)

    q0 = df.orderBy("vec_id").limit(1)
    b1_df = ivfadc_batch_search(df, q0, **kw)
    b1 = sorted(
        ((r.neighbor_id, r.pq_dist2) for r in b1_df.collect()),
        key=lambda x: (x[1], x[0]),
    )
    release_checkpoint(b1_df)
    assert b1 == single

    bn_df = ivfadc_batch_search(df, df.orderBy("vec_id").limit(8), **kw)
    bn = bn_df.collect()
    release_checkpoint(bn_df)
    assert len({r.query_id for r in bn}) == 8
    qid = single and b1 and bn[0] and df.orderBy("vec_id").first()["vec_id"]
    mine = sorted(
        ((r.neighbor_id, r.pq_dist2) for r in bn if r.query_id == qid),
        key=lambda x: (x[1], x[0]),
    )
    assert mine == single
    for r in bn:  # self-exclusion holds across the batch
        assert r.neighbor_id != r.query_id


def test_ivfadc_batch_driver_work_is_query_independent(spark):
    """The batch server's driver-side actions belong to TRAINING only
    (O(iters·m) kmeans rounds): constructing the serving plan for 4 vs
    48 queries must launch the IDENTICAL number of Spark jobs — any
    per-query collect()/createDataFrame loop (the q242/q243 demo shape
    this operator retires) would scale job count with Q."""
    import random

    from ddf_flink_spark.functions.similarity import ivfadc_batch_search
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(n_lists=4, nprobe=2, m=4, k=4, iters=2, topk=3)
    sc = spark.sparkContext

    def jobs_during_build(n_q):
        start = int(sc._jsc.sc().dagScheduler().nextJobId())
        out = ivfadc_batch_search(df, df.orderBy("vec_id").limit(n_q), **kw)
        end = int(sc._jsc.sc().dagScheduler().nextJobId())
        release_checkpoint(out)
        return end - start

    assert jobs_during_build(4) == jobs_during_build(48)


def test_ivfadc_persisted_index_parity_and_partition_pruning(spark, tmp_path):
    """q245 contract: a residual-IVFADC index persisted as
    list_id-partitioned parquet + model sidecars serves IDENTICAL
    results to the fresh-built index, and the static-probe serving path
    reads the codes table PARTITION-PRUNED — the scan's
    PartitionFilters carries the literal probe set, so a 100 TB probe
    touches nprobe/n_lists of the index files (plan-locked here, not
    prose)."""
    import random

    from ddf_flink_spark.functions.similarity import (
        ivfadc_index_build,
        ivfadc_index_search,
    )
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index, coarse, cents = ivfadc_index_build(df, n_lists=4, m=4, k=4, iters=2)
    q = df.orderBy("vec_id").limit(2)

    fresh = sorted(
        (r.query_id, r.neighbor_id, r.pq_dist2)
        for r in ivfadc_index_search(
            index, coarse, cents, q, nprobe=2, topk=3
        ).collect()
    )

    base = str(tmp_path / "ivfadc_index")
    index.write.mode("overwrite").partitionBy("list_id").parquet(f"{base}/codes")
    release_checkpoint(index)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(coarse)], "list_id int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{base}/coarse")
    spark.createDataFrame(
        [(j, c, cents[j][c]) for j in range(4) for c in range(4)],
        "j int, code int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{base}/codebooks")

    idx = spark.read.parquet(f"{base}/codes")
    coarse_r = [
        list(r["centroid"])
        for r in spark.read.parquet(f"{base}/coarse").orderBy("list_id").collect()
    ]
    cb = spark.read.parquet(f"{base}/codebooks").orderBy("j", "code").collect()
    cents_r = [[list(r["centroid"]) for r in cb if r["j"] == j] for j in range(4)]

    served = ivfadc_index_search(
        idx, coarse_r, cents_r, q, nprobe=2, topk=3, static_probe=True
    )
    persisted = sorted(
        (r.query_id, r.neighbor_id, r.pq_dist2) for r in served.collect()
    )
    assert persisted == fresh, "persisted-index serving must replay fresh-build"

    plan = served._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    mfilter = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert mfilter, "codes scan must carry PartitionFilters"
    assert re.search(r"list_id#\d+ IN \(", mfilter.group(1)), (
        f"static probe must prune by literal list_id set: {mfilter.group(1)}"
    )


def test_joint_pq_codebook_training_matches_sequential(spark):
    """_train_pq_codebooks (one Spark job per Lloyd round for ALL m
    subspaces — the m× driver-barrier reduction the PQ family trains
    through) must be BIT-IDENTICAL to m sequential kmeans_lloyd chains:
    same centroids, same codes. Each subspace's init/assign/update
    touches only its own slice, so the only difference is job shape."""
    import random

    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.similarity import _train_pq_codebooks
    from ddf_flink_spark.ml.kmeans import kmeans_lloyd
    from ddf_flink_spark.storage import release_all_storage, tracked_local_checkpoint

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(70)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    emb = tracked_local_checkpoint(df)
    m, w, k, iters = 4, 4, 3, 2

    codes_seq = None
    cents_seq = []
    for j in range(m):
        sub = emb.select("id", F.slice("v", j * w + 1, w).alias("embedding"))
        aj, c = kmeans_lloyd(sub, "embedding", "id", k=k, iters=iters, return_centroids=True)
        cents_seq.append(c)
        aj = aj.select("id", F.col("cluster").alias(f"code{j}"))
        codes_seq = aj if codes_seq is None else codes_seq.join(aj, "id")
    seq = sorted(tuple(r) for r in codes_seq.select("id", *[f"code{j}" for j in range(m)]).collect())

    codes_joint, cents_joint = _train_pq_codebooks(emb, m, w, k, iters)
    joint = sorted(tuple(r) for r in codes_joint.select("id", *[f"code{j}" for j in range(m)]).collect())
    release_all_storage(spark)

    assert cents_joint == cents_seq, "jointly-trained codebooks must match"
    assert joint == seq, "jointly-trained codes must match"


def test_pq_final_codes_are_shuffle_free(spark):
    """The trainer's FINAL codes frame must be a pure map over the
    residual checkpoint — m direct argmin projections, NO Exchange
    (round 12: the explode → groupBy(id).pivot(j) reshape re-shuffled
    every assignment row just to lay side-by-side values side by side;
    it was the single heaviest stage of the q275 build). Guards the
    plan shape the optimization bought."""
    import random

    from ddf_flink_spark.functions.similarity import _train_pq_codebooks
    from ddf_flink_spark.storage import release_all_storage, tracked_local_checkpoint

    rng = random.Random(31)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    emb = tracked_local_checkpoint(
        spark.createDataFrame(rows, "id long, v array<double>")
    )
    codes, _ = _train_pq_codebooks(emb, 4, 4, 3, 1)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    release_all_storage(spark)
    assert "Exchange" not in plan, (
        f"final PQ codes must not shuffle (direct per-subspace argmin map):\n{plan}"
    )


def test_ivfadc_encode_matches_index_build(spark):
    """ivfadc_encode (the stateless map q248 streams through) must
    reproduce the batch index EXACTLY: same (id, list_id, code0..m-1)
    for every vector — the frozen-model encode rule IS the build's
    final-assignment rule."""
    import random

    from ddf_flink_spark.functions.similarity import (
        ivfadc_encode,
        ivfadc_index_build,
    )
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(29)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index, coarse, cents = ivfadc_index_build(df, n_lists=4, m=4, k=4, iters=2)
    cols = ["id", "list_id", "code0", "code1", "code2", "code3"]
    built = sorted(tuple(r) for r in index.select(*cols).collect())
    release_checkpoint(index)
    encoded = sorted(
        tuple(r) for r in ivfadc_encode(df, coarse, cents).select(*cols).collect()
    )
    assert encoded == built


def test_ivfadc_carry_cols_matches_rejoined_form(spark):
    """Round-12 §8 pin: the joinless exact_means build with carry_cols
    must reproduce EXACTLY what the replaced shape computed — the index
    re-joined onto the Lloyd assignment for list_id and onto the input
    frame for the carried payload. Equality is row-exact over every
    column, so both the carry projection and the per-row re-derivation
    of the final cell are pinned against the definitional form."""
    import random

    from ddf_flink_spark.functions.similarity import ivfadc_index_build
    from ddf_flink_spark.ml.kmeans import kmeans_lloyd
    from ddf_flink_spark.storage import release_checkpoint

    rng = random.Random(31)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 7, float(i) * 1.5)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, doc long, n2 double"
    )
    index, coarse, cents = ivfadc_index_build(
        df, n_lists=4, m=4, k=4, iters=2,
        exact_means=True, carry_cols=("doc", "n2"),
    )
    cols = ["id", "list_id", "code0", "code1", "code2", "code3", "doc", "n2"]
    carried = sorted(tuple(r) for r in index.select(*cols).collect())
    release_checkpoint(index)

    # definitional (pre-round-12) form: build WITHOUT carry, then
    # re-attach list_id via the final Lloyd assignment and the payload
    # via an id-equi join back onto the input frame
    index2, coarse2, cents2 = ivfadc_index_build(
        df, n_lists=4, m=4, k=4, iters=2, exact_means=True,
    )
    assert coarse2 == coarse and cents2 == cents
    import pyspark.sql.functions as F

    assigned = kmeans_lloyd(
        df, "embedding", "vec_id", k=4, iters=2
    ).select(F.col("id"), F.col("cluster").alias("list_id_lloyd"))
    rejoined = sorted(
        tuple(r)
        for r in index2.join(assigned, "id")
        .join(df.select(F.col("vec_id").alias("id"), "doc", "n2"), "id")
        .select(
            "id", "list_id", "code0", "code1", "code2", "code3", "doc", "n2",
            "list_id_lloyd",
        )
        .collect()
    )
    release_checkpoint(index2)
    assert [t[:8] for t in rejoined] == carried
    # the re-derived cell IS the final Lloyd assignment, row for row
    assert all(t[1] == t[8] for t in rejoined)


def test_ivfadc_carry_cols_reserved_names_rejected(spark):
    """Round-13 ADVICE: a carried column colliding with the index's own
    layout ('id', 'v', 'list_id', 'code{j}') must raise a clear
    ValueError at the API boundary — not an opaque ambiguous-column
    analysis error deep inside the build. The guard fires before any
    Spark job (the frame is never touched)."""
    import pytest

    from ddf_flink_spark.functions.similarity import ivfadc_index_build

    df = spark.createDataFrame(
        [(0, [0.0] * 8, 1)], "vec_id long, embedding array<float>, list_id int"
    )
    for bad in ("id", "v", "list_id", "code0", "code3"):
        with pytest.raises(ValueError, match="reserved"):
            ivfadc_index_build(
                df, n_lists=2, m=4, k=2, iters=1,
                exact_means=True, carry_cols=(bad,), dim=8,
            )


def test_ivfadc_rebalance_untouched_cells_and_serving_equality(spark):
    """ivfadc_rebalance (q254) contracts:

    1. UNTOUCHED BYTES — rows of untargeted cells appear in the new
       index byte-identically (same id, list_id, codes), and the new
       index has exactly the old row count (a rebalance moves rows,
       never creates or drops them);
    2. MOVEMENT LOCALITY — the moves frame covers exactly the target
       cells' members;
    3. SERVING EQUALITY — for every query whose probe frontier avoids
       the target cells under BOTH the old and the new coarse
       centroids, ivfadc_index_search returns identical rows before and
       after the rebalance (the contract that lets a 100 TB deployment
       rebalance in place while serving)."""
    import random

    from ddf_flink_spark.functions.similarity import (
        ivfadc_index_build,
        ivfadc_index_search,
        ivfadc_rebalance,
    )
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(254)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index, coarse, cents = ivfadc_index_build(df, n_lists=6, m=4, k=4, iters=2)
    old_rows = {tuple(r) for r in index.collect()}

    new_index, new_coarse, moves = ivfadc_rebalance(
        df, index, coarse, cents, top_n=2, iters=1
    )
    mv = moves.collect()
    new_rows = {tuple(r) for r in new_index.collect()}
    targets = sorted({r["old_cell"] for r in mv})
    assert len(targets) == 2

    old_untouched = {r for r in old_rows if r[1] not in targets}
    new_untouched = {r for r in new_rows if r[1] not in targets}
    # untargeted cells byte-identical; counts conserved
    assert old_untouched == new_untouched
    assert len(new_rows) == len(old_rows)
    assert len(mv) == len(old_rows) - len(old_untouched)
    # every move lands inside the target set (restricted reassignment)
    assert all(r["new_cell"] in targets for r in mv)
    # untargeted coarse centroids unchanged
    for c in range(len(coarse)):
        if c not in targets:
            assert new_coarse[c] == list(coarse[c])

    # ---- serving equality on target-avoiding probe frontiers ----
    def frontier(qv, cents_list, nprobe):
        scored = sorted(
            (round(-sum(a * b for a, b in zip(qv, c)), 6), i)
            for i, c in enumerate(cents_list)
        )
        return {i for _, i in scored[:nprobe]}

    nprobe = 2
    vecs = {i: [float(x) for x in v] for i, v in rows}
    safe = [
        i
        for i, v in vecs.items()
        if not (frontier(v, coarse, nprobe) | frontier(v, new_coarse, nprobe))
        & set(targets)
    ]
    assert safe, "seeded corpus must yield at least one target-avoiding query"
    q = df.filter(F.col("vec_id").isin(safe[:8]))
    before = sorted(
        map(
            tuple,
            ivfadc_index_search(
                index, coarse, cents, q, nprobe=nprobe, topk=3
            ).collect(),
        )
    )
    after = sorted(
        map(
            tuple,
            ivfadc_index_search(
                new_index, new_coarse, cents, q, nprobe=nprobe, topk=3
            ).collect(),
        )
    )
    assert before == after, "serving diverged on a target-avoiding frontier"
    release_all_storage(spark)


def test_index_tombstone_delete_and_compaction(spark, tmp_path):
    """index_store (q255) contracts:

    1. serve-after-delete (tombstone anti-join) ≡ serve-after-compaction
       (physical rewrite) — a delete is visible immediately and
       compaction changes nothing observable;
    2. neither serving path ever returns a deleted id;
    3. compaction rewrites ONLY the affected partitions: untouched cell
       directories keep their files byte-identical (same names, sizes,
       mtimes), and the survivors scan is partition-pruned
       (PartitionFilters on list_id);
    4. tombstones are retired by compaction; a second compaction is a
       no-op."""
    import os
    import random

    from ddf_flink_spark.functions.index_store import (
        index_compact,
        index_delete_ids,
        load_index,
        persist_index,
    )
    from ddf_flink_spark.functions.similarity import (
        ivfadc_index_build,
        ivfadc_index_search,
    )
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(255)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = str(tmp_path / "idx")
    index, coarse, cents = ivfadc_index_build(df, n_lists=6, m=4, k=4, iters=2)
    persist_index(index, coarse, cents, base)

    deleted = {i for i in range(80) if i % 5 == 2}
    index_delete_ids(
        spark, base, df.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    q = df.filter(F.col("vec_id") < 10)

    codes, coarse_r, cents_r = load_index(spark, base)
    pre = sorted(
        map(tuple, ivfadc_index_search(codes, coarse_r, cents_r, q, topk=3).collect())
    )
    assert pre and not {r[1] for r in pre} & deleted

    # snapshot untouched partition files before compaction
    tomb_cells = {
        r["list_id"]
        for r in spark.read.parquet(f"{base}/codes")
        .join(spark.read.parquet(f"{base}/tombstones"), "id", "left_semi")
        .select("list_id")
        .distinct()
        .collect()
    }
    def _files(cell):
        d = f"{base}/codes/list_id={cell}"
        return sorted(
            (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d)
        )
    untouched = sorted(set(range(6)) - tomb_cells)
    snap = {c: _files(c) for c in untouched if os.path.isdir(f"{base}/codes/list_id={c}")}

    # plan lock: the survivors scan the compactor runs is partition-pruned
    surv = spark.read.parquet(f"{base}/codes").filter(
        F.col("list_id").isin(sorted(tomb_cells))
    )
    plan = surv._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "list_id" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]

    stats = index_compact(spark, base)
    assert stats["affected_cells"] == len(tomb_cells)
    assert stats["dropped_rows"] == len(deleted)
    assert not os.path.isdir(f"{base}/tombstones")
    for c, files in snap.items():
        assert _files(c) == files, f"untouched cell {c} was rewritten"

    codes2, coarse2, cents2 = load_index(spark, base)
    post = sorted(
        map(tuple, ivfadc_index_search(codes2, coarse2, cents2, q, topk=3).collect())
    )
    assert post == pre, "compaction changed serving results"
    assert index_compact(spark, base) == {"affected_cells": 0, "dropped_rows": 0}
    release_all_storage(spark)


def test_index_compact_all_rows_deleted_stays_readable(spark, tmp_path):
    """Degenerate-empty edge (round-8 ADVICE): compacting away EVERY
    row must leave the table READABLE as an empty frame with the
    original schema — not a schema-inference failure — and the swap
    must never leave a *.compact_old directory behind."""
    import os

    from ddf_flink_spark.functions.index_store import (
        index_compact,
        index_delete_ids,
    )

    base = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(30)], "id long, list_id int, payload long"
    )
    df.write.mode("overwrite").partitionBy("list_id").parquet(f"{base}/codes")
    index_delete_ids(spark, base, df.select("id"))
    stats = index_compact(spark, base)
    assert stats == {"affected_cells": 3, "dropped_rows": 30}
    back = spark.read.parquet(f"{base}/codes")
    assert back.count() == 0
    assert {"id", "list_id", "payload"} <= set(back.columns)
    assert not any(
        d.endswith(".compact_old") for d in os.listdir(f"{base}/codes")
    )
    # a second compaction (no tombstones) is a no-op
    assert index_compact(spark, base) == {"affected_cells": 0, "dropped_rows": 0}


def test_filtered_ann_predicate_lands_in_codes_scan(spark, tmp_path):
    """q256's plan lock: with the predicate column riding the persisted
    codes table, the serve-time filter reaches the codes parquet scan as
    a PushedFilter (pre-search), and no returned neighbor violates the
    predicate. Post-filtering a top-k would instead rank first and
    filter after — structurally impossible here since the filter sits
    below the ADC join."""
    import random

    from ddf_flink_spark.functions.index_store import load_index, persist_index
    from ddf_flink_spark.functions.similarity import (
        ivfadc_index_build,
        ivfadc_index_search,
    )
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(256)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], "en" if i % 3 else "de")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, lang string")
    base = str(tmp_path / "idx")
    index, coarse, cents = ivfadc_index_build(df, n_lists=4, m=4, k=4, iters=2)
    persist_index(
        index.join(df.select(F.col("vec_id").alias("id"), "lang"), "id"),
        coarse,
        cents,
        base,
    )
    codes, coarse_r, cents_r = load_index(spark, base)
    filtered = codes.filter(F.col("lang") == "en").drop("lang")
    out = ivfadc_index_search(
        filtered, coarse_r, cents_r, df.filter("vec_id < 10"), nprobe=2, topk=3
    )
    res = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    pushed = [
        seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("lang" in p for p in pushed), f"lang not pushed: {pushed}"
    en_ids = {i for i, _, l in rows if l == "en"}
    assert res and all(r.neighbor_id in en_ids for r in res)
    release_all_storage(spark)


def test_maxsim_planted_passage_ranks_first(spark):
    """maxsim_topk (q257): a corpus document that CONTAINS the query's
    64 tokens verbatim as its first chunk window must rank top-1 with
    maxsim = 1.0 (its chunk embedding equals the query embedding
    exactly — integer feature hashing makes this an equality, not an
    approximation), regardless of the rest of the document. That is the
    late-interaction property: best-passage match, not whole-doc
    average."""
    import random

    from ddf_flink_spark.functions.retrieval import maxsim_topk

    rng = random.Random(257)
    vocab = [f"w{i}" for i in range(300)]
    qtoks = [rng.choice(vocab) for _ in range(64)]
    qdf = spark.createDataFrame([(0, " ".join(qtoks))], "doc_id long, text string")
    corpus = [(10, " ".join(qtoks + [rng.choice(vocab) for _ in range(32)]))]
    for i in range(11, 31):
        corpus.append((i, " ".join(rng.choice(vocab) for _ in range(90))))
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")

    res = maxsim_topk(qdf, cdf, k=3).collect()
    top = max(
        (r for r in res if r.query_id == 0),
        key=lambda r: (r.maxsim, -r.doc_id),
    )
    assert (top.doc_id, top.maxsim) == (10, 1.0), res


def test_ivfadc_split_cell_contracts(spark):
    """ivfadc_split_cell (q260): the hot cell's members partition
    exactly between the kept id and the appended cell len(coarse); all
    other cells stay byte-identical; row count is conserved;
    new_coarse grows by one with non-split entries unchanged; and
    serving is bit-equal for probe frontiers that avoid BOTH the split
    cell and the new cell, before and after."""
    import random

    from ddf_flink_spark.functions.similarity import (
        ivfadc_index_build,
        ivfadc_index_search,
        ivfadc_split_cell,
    )
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(260)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index, coarse, cents = ivfadc_index_build(df, n_lists=5, m=4, k=4, iters=2)
    old_rows = {tuple(r) for r in index.collect()}

    new_index, new_coarse, moves = ivfadc_split_cell(df, index, coarse, cents)
    mv = moves.collect()
    new_rows = {tuple(r) for r in new_index.collect()}
    hot = mv[0]["old_cell"]
    new_id = len(coarse)
    assert len(new_coarse) == len(coarse) + 1
    assert all(r["old_cell"] == hot for r in mv)
    assert {r["new_cell"] for r in mv} <= {hot, new_id}
    assert len(new_rows) == len(old_rows)
    untouched_old = {r for r in old_rows if r[1] != hot}
    untouched_new = {r for r in new_rows if r[1] not in (hot, new_id)}
    assert untouched_old == untouched_new
    for c in range(len(coarse)):
        if c != hot:
            assert new_coarse[c] == list(coarse[c])

    def frontier(qv, cents_list, nprobe):
        scored = sorted(
            (round(-sum(a * b for a, b in zip(qv, c)), 6), i)
            for i, c in enumerate(cents_list)
        )
        return {i for _, i in scored[:nprobe]}

    vecs = {i: [float(x) for x in v] for i, v in rows}
    safe = [
        i
        for i, v in vecs.items()
        if not (frontier(v, coarse, 2) | frontier(v, new_coarse, 2))
        & {hot, new_id}
    ]
    assert safe, "seeded corpus must yield a split-avoiding query"
    q = df.filter(F.col("vec_id").isin(safe[:8]))
    before = sorted(
        map(
            tuple,
            ivfadc_index_search(index, coarse, cents, q, nprobe=2, topk=3).collect(),
        )
    )
    after = sorted(
        map(
            tuple,
            ivfadc_index_search(
                new_index, new_coarse, cents, q, nprobe=2, topk=3
            ).collect(),
        )
    )
    assert before == after
    release_all_storage(spark)


def test_hash_chunk_embeddings_swar_matches_per_component_folds(spark):
    """The SWAR form (two bit-packed folds, round-12 opt) must be
    BIT-IDENTICAL to the definitional per-component form (one
    ``aggregate`` fold per dimension d of e_d = Σ(2·bit_d − 1)): both
    are exact BIGINT arithmetic over the same md5 token hashes, and
    e_d = 2·Σbit_d − |chunk| is an integer identity, not an
    approximation. Run over the real sf corpus so every chunk-length
    edge (short tail windows, single-token docs) is covered."""
    from ddf_flink_spark.functions.retrieval import hash_chunk_embeddings

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    size, stride, dim = 64, 48, 16
    toks = "split(`text`, ' ')"
    starts = f"sequence(1, greatest(size({toks}) - {size} + {stride}, 1), {stride})"
    hv_t = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
    hashed = d.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.expr(
                f"transform({starts}, s -> transform(slice({toks}, s, {size}), "
                f"t -> {hv_t}))"
            )
        ).alias("chunk_id", "hvs"),
    )
    fields = ", ".join(
        f"'e{k}', aggregate(hvs, cast(0 as bigint), (acc, h) -> "
        f"acc + cast((((shiftright(h, {k}) & 1) * 2) - 1) as bigint))"
        for k in range(dim)
    )
    ref = hashed.select(
        "id", "chunk_id", F.inline(F.expr(f"array(named_struct({fields}))"))
    )
    n2 = " + ".join(f"e{k} * e{k}" for k in range(dim))
    ref = ref.withColumn("n2", F.expr(f"cast({n2} as bigint)"))

    got = hash_chunk_embeddings(d).orderBy("id", "chunk_id").collect()
    want = ref.orderBy("id", "chunk_id").collect()
    assert len(got) == len(want) > 0
    assert got == want


def test_maxsim_ivf_full_probe_equals_brute(spark):
    """maxsim_ivf_topk (q263) degenerates EXACTLY to maxsim_topk (q257)
    when nprobe = n_lists: probing every cell admits every chunk, so
    the candidate set — and therefore every round-6 cosine, per-doc max
    and rank — is identical. Pins that the IVF pruning is the ONLY
    approximation in the composition."""
    import random

    from ddf_flink_spark.functions.retrieval import maxsim_ivf_topk, maxsim_topk
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(263)
    vocab = [f"w{i}" for i in range(200)]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 140))))
        for i in range(40)
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    qdf = cdf.filter("doc_id < 4")
    brute = sorted(map(tuple, maxsim_topk(qdf, cdf, k=4).collect()))
    full = sorted(
        map(
            tuple,
            maxsim_ivf_topk(qdf, cdf, k=4, n_lists=4, nprobe=4).collect(),
        )
    )
    assert full == brute
    release_all_storage(spark)


def test_chunk_index_delete_cascade_and_compaction(spark, tmp_path):
    """q268 contracts: tombstoning ONE document id removes ALL its chunk
    rows from serving (the cascade); serve-after-delete (anti-join) ≡
    serve-after-compaction (physical rewrite); compaction rewrites only
    the affected cell directories (untouched files byte-identical) and
    retires the tombstones."""
    import os
    import random

    from ddf_flink_spark.functions.index_store import (
        index_compact,
        index_delete_ids,
        load_chunk_index,
    )
    from ddf_flink_spark.functions.retrieval import (
        build_chunk_index,
        maxsim_persisted_topk,
    )

    rng = random.Random(268)
    vocab = [f"w{i}" for i in range(200)]
    # 120-token docs -> 3 chunk windows each (size 64, stride 48)
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(120))) for i in range(30)
    ]
    cdf = spark.createDataFrame(docs, "doc_id long, text string")
    base = str(tmp_path / "chunkidx")
    build_chunk_index(cdf, base, n_lists=4)

    victim = 7
    n_victim_chunks = (
        spark.read.parquet(f"{base}/chunks").filter(F.col("doc") == victim).count()
    )
    assert n_victim_chunks >= 2, "victim doc must span multiple chunks"
    index_delete_ids(
        spark, base, cdf.filter(F.col("doc_id") == victim).select("doc_id")
    )

    chunks, coarse = load_chunk_index(spark, base)
    assert chunks.filter(F.col("doc") == victim).count() == 0, (
        "cascade: every chunk of the tombstoned doc must leave serving"
    )
    q = cdf.filter("doc_id < 3")
    pre = sorted(
        map(
            tuple,
            maxsim_persisted_topk(q, chunks, coarse, k=3, nprobe=2).collect(),
        )
    )
    assert pre and all(r[1] != victim for r in pre)

    victim_cells = {
        r["list_id"]
        for r in spark.read.parquet(f"{base}/chunks")
        .filter(F.col("doc") == victim)
        .select("list_id")
        .distinct()
        .collect()
    }
    untouched = sorted(set(range(4)) - victim_cells)

    def _files(cell):
        d = f"{base}/chunks/list_id={cell}"
        return sorted(
            (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d)
        )

    snap = {c: _files(c) for c in untouched if os.path.isdir(f"{base}/chunks/list_id={c}")}
    stats = index_compact(
        spark, base, table="chunks", part_col="list_id", id_col="doc"
    )
    assert stats["affected_cells"] == len(victim_cells)
    assert stats["dropped_rows"] == n_victim_chunks
    assert not os.path.isdir(f"{base}/tombstones")
    for c, files in snap.items():
        assert _files(c) == files, f"untouched cell {c} was rewritten"

    chunks2, coarse2 = load_chunk_index(spark, base)
    post = sorted(
        map(
            tuple,
            maxsim_persisted_topk(q, chunks2, coarse2, k=3, nprobe=2).collect(),
        )
    )
    assert post == pre, "compaction changed serving results"


def test_two_level_encode_contracts(spark):
    """ivfadc_encode_two_level (q267) contracts:

    1. FULL PROBE ≡ BRUTE — probe_groups = n_groups makes the candidate
       set every centroid, so (id, list_id, codes) equals ivfadc_encode
       row-for-row;
    2. PARTIAL-PROBE VALIDITY — with probe_groups=1 every vector files
       into a MEMBER cell of its nearest group (never an unprobed one);
    3. CONSISTENCY — whenever the brute-optimal cell's group IS probed,
       the partial probe picks exactly the brute cell (the restricted
       argmin uses the identical round-6 rank + index tiebreak)."""
    import math
    import random

    from ddf_flink_spark.functions.similarity import (
        _group_centroids,
        ivfadc_encode,
        ivfadc_encode_two_level,
        ivfadc_index_build,
    )
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(267)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index, coarse, cents = ivfadc_index_build(df, n_lists=9, m=4, k=4, iters=2)

    brute = {r["id"]: tuple(r)[1:] for r in ivfadc_encode(df, coarse, cents).collect()}
    full = {
        r["id"]: tuple(r)[1:]
        for r in ivfadc_encode_two_level(
            df, coarse, cents, n_groups=3, probe_groups=3
        ).collect()
    }
    assert full == brute, "full probe must equal the brute argmin exactly"

    reps, members = _group_centroids(coarse, 3)
    partial = {
        r["id"]: r["list_id"]
        for r in ivfadc_encode_two_level(
            df, coarse, cents, n_groups=3, probe_groups=1
        ).collect()
    }

    def _d6(v, c):
        return round(math.sqrt(sum((a - b) * (a - b) for a, b in zip(v, c))), 6)

    vecs = {i: [float(x) for x in v] for i, v in rows}
    consistent = 0
    for i, v in vecs.items():
        g = min(range(3), key=lambda gg: (_d6(v, reps[gg]), gg))
        assert partial[i] in members[g], (
            f"vec {i} filed into cell {partial[i]} outside probed group {g}"
        )
        if brute[i][0] in members[g]:
            assert partial[i] == brute[i][0], f"vec {i} diverged inside probed group"
            consistent += 1
    assert consistent > 0, "seeded corpus must exercise the consistency branch"
    release_all_storage(spark)


def test_on_disk_maintenance_untouched_files_and_serving(spark, tmp_path):
    """index_rebalance_on_disk / index_split_on_disk (q269) contracts:

    1. untouched cells' partition FILES are byte-identical after an
       on-disk rebalance (same names, sizes, mtimes) — the rewrite
       budget is target-cell rows, never index size;
    2. on-disk state ≡ in-session ivfadc_rebalance output (rows and
       coarse sidecar), including a payload column riding the codes;
    3. a subsequent on-disk SPLIT adds exactly one partition directory
       (list_id = n_lists) and one coarse sidecar row, leaving every
       non-split cell's files byte-identical."""
    import os
    import random

    from ddf_flink_spark.functions.index_store import (
        index_rebalance_on_disk,
        index_split_on_disk,
        load_index,
        persist_index,
    )
    from ddf_flink_spark.functions.similarity import (
        ivfadc_index_build,
        ivfadc_rebalance,
    )
    from ddf_flink_spark.storage import release_all_storage

    rng = random.Random(269)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], f"p{i % 3}")
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, tag string"
    )
    base = str(tmp_path / "idx")
    index, coarse, cents = ivfadc_index_build(df, n_lists=6, m=4, k=4, iters=2)
    persist_index(
        index.join(df.select(F.col("vec_id").alias("id"), "tag"), "id"),
        coarse,
        cents,
        base,
    )

    # expected: the in-session rebalance on the same inputs
    exp_index, exp_coarse, exp_moves = ivfadc_rebalance(
        df, index, coarse, cents, top_n=2, iters=1
    )
    expected = {
        (r["id"], r["new_cell"], r["code0"], r["code1"], r["code2"], r["code3"])
        for r in exp_moves.collect()
    }
    targets = sorted({r[1] for r in expected} | {
        r["old_cell"] for r in exp_moves.collect()
    })

    def _files(cell):
        d = f"{base}/codes/list_id={cell}"
        return sorted(
            (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d)
        )

    untouched = [c for c in range(6) if c not in targets]
    snap = {c: _files(c) for c in untouched}

    stats = index_rebalance_on_disk(spark, base, df, top_n=2)
    assert sorted(stats["targets"]) == sorted(set(targets))
    for c, files in snap.items():
        assert _files(c) == files, f"untouched cell {c} was rewritten"

    post = spark.read.parquet(f"{base}/codes").filter(
        F.col("list_id").isin(stats["targets"])
    )
    got = {
        (r["id"], r["list_id"], r["code0"], r["code1"], r["code2"], r["code3"])
        for r in post.collect()
    }
    assert got == expected, "on-disk rows diverge from the in-session rebalance"
    # payload column preserved on every moved row
    assert post.filter(F.col("tag").isNull()).count() == 0
    # coarse sidecar updated to the in-session centroids
    _, coarse_r, _ = load_index(spark, base)
    assert coarse_r == [list(c) for c in exp_coarse]

    # ---- on-disk split of the (new) hottest cell ----
    pre_dirs = {
        d for d in os.listdir(f"{base}/codes") if d.startswith("list_id=")
    }
    census = (
        spark.read.parquet(f"{base}/codes")
        .groupBy("list_id").count().orderBy(F.desc("count"), "list_id").collect()
    )
    hot = int(census[0]["list_id"])
    snap2 = {
        c: _files(c)
        for c in range(6)
        if c != hot and os.path.isdir(f"{base}/codes/list_id={c}")
    }
    sstats = index_split_on_disk(spark, base, df)
    assert sstats["new_cell"] == 6 and sstats["targets"] == [hot]
    post_dirs = {
        d for d in os.listdir(f"{base}/codes") if d.startswith("list_id=")
    }
    assert post_dirs == pre_dirs | {"list_id=6"}
    for c, files in snap2.items():
        assert _files(c) == files, f"non-split cell {c} was rewritten"
    _, coarse_s, _ = load_index(spark, base)
    assert len(coarse_s) == 7
    # row conservation across the whole lifecycle
    assert spark.read.parquet(f"{base}/codes").count() == 90
    release_all_storage(spark)


def test_chunk_split_on_disk_contracts(spark, tmp_path):
    """chunk_split_on_disk (q273): only the split cell's directory is
    rewritten plus ONE new directory (every other cell's files
    byte-identical); row count and per-doc chunk multiset are
    conserved; the coarse sidecar grows by exactly one entry with
    non-split centroids unchanged; serving still returns results and
    never a chunk of a missing cell."""
    import os
    import random

    from ddf_flink_spark.functions.index_store import (
        chunk_split_on_disk,
        load_chunk_index,
    )
    from ddf_flink_spark.functions.retrieval import (
        build_chunk_index,
        maxsim_persisted_topk,
    )

    rng = random.Random(273)
    vocab = [f"w{i}" for i in range(200)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(120))) for i in range(40)
    ]
    cdf = spark.createDataFrame(docs, "doc_id long, text string")
    base = str(tmp_path / "chunkidx")
    build_chunk_index(cdf, base, n_lists=4)
    pre_rows = {tuple(r) for r in spark.read.parquet(f"{base}/chunks").drop("list_id").collect()}
    _, coarse0 = load_chunk_index(spark, base)

    census = (
        spark.read.parquet(f"{base}/chunks")
        .groupBy("list_id").count().orderBy(F.desc("count"), "list_id").collect()
    )
    hot = int(census[0]["list_id"])

    def _files(cell):
        d = f"{base}/chunks/list_id={cell}"
        return sorted(
            (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d)
        )

    snap = {
        c: _files(c)
        for c in range(4)
        if c != hot and os.path.isdir(f"{base}/chunks/list_id={c}")
    }
    stats = chunk_split_on_disk(spark, base)
    assert stats["cell"] == hot and stats["new_cell"] == 4
    assert stats["moved_rows"] > 0
    for c, files in snap.items():
        assert _files(c) == files, f"non-split cell {c} was rewritten"

    post = spark.read.parquet(f"{base}/chunks")
    assert {tuple(r) for r in post.drop("list_id").collect()} == pre_rows, (
        "split must move rows between cells, never change or drop them"
    )
    assert post.filter(F.col("list_id") == 4).count() == stats["moved_rows"]
    chunks, coarse = load_chunk_index(spark, base)
    assert len(coarse) == 5
    for c in range(4):
        if c != hot:
            assert coarse[c] == coarse0[c], f"non-split centroid {c} changed"
    res = maxsim_persisted_topk(
        cdf.filter("doc_id < 3"), chunks, coarse, k=3, nprobe=2
    ).collect()
    assert res, "post-split serving must return rows"


def test_chunk_pq_build_is_partition_order_independent(spark, tmp_path):
    """build_chunk_pq_index (q275) must persist IDENTICAL model +
    codes regardless of input partitioning: the codebook means use the
    exact_means round-6 DECIMAL-sum discipline, so shuffle/summation
    order cannot flip a round-4 centroid (the q276 divergence this
    fixed: plain double avg matched under 8 shuffle partitions and
    differed under 32)."""
    import random

    from ddf_flink_spark.functions.index_store import load_index
    from ddf_flink_spark.functions.retrieval import build_chunk_pq_index

    rng = random.Random(275)
    vocab = [f"w{i}" for i in range(200)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(120))) for i in range(40)
    ]
    outs = []
    for tag, parts in (("a", 1), ("b", 7)):
        cdf = spark.createDataFrame(
            docs, "doc_id long, text string"
        ).repartition(parts)
        base = str(tmp_path / f"pq_{tag}")
        build_chunk_pq_index(cdf, base, n_lists=4, m=8, k=8)
        codes, coarse, cbs = load_index(spark, base)
        outs.append(
            (
                sorted(map(tuple, codes.drop("list_id").collect())),
                sorted(map(tuple, codes.select("id", "list_id").collect())),
                coarse,
                cbs,
            )
        )
    assert outs[0][0] == outs[1][0], "codes diverged across partitionings"
    assert outs[0][1] == outs[1][1], "cell membership diverged"
    assert outs[0][2] == outs[1][2], "coarse centroids diverged"
    assert outs[0][3] == outs[1][3], "codebooks diverged"


class TestSidecarReads:
    """load_index / load_chunk_index read the model sidecars on the
    driver: no Spark collect, and the same floats the Spark
    ``orderBy().collect()`` read returns."""

    @staticmethod
    def _spark_read(spark, base):
        import os

        coarse = [
            list(r["centroid"])
            for r in spark.read.parquet(f"{base}/coarse").orderBy("list_id").collect()
        ]
        if not os.path.isdir(f"{base}/codebooks"):
            return coarse, None
        cb = spark.read.parquet(f"{base}/codebooks").orderBy("j", "code").collect()
        m = 1 + max(r["j"] for r in cb)
        return coarse, [
            [list(r["centroid"]) for r in cb if r["j"] == j] for j in range(m)
        ]

    @pytest.fixture(scope="class")
    def bases(self, spark, tmp_path_factory):
        import random

        from ddf_flink_spark.functions.index_store import persist_index
        from ddf_flink_spark.functions.retrieval import (
            build_chunk_index,
            build_chunk_pq_index,
        )
        from ddf_flink_spark.functions.similarity import ivfadc_index_build

        tmp = tmp_path_factory.mktemp("sidecars")
        rng = random.Random(5)
        vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        index, coarse, cents = ivfadc_index_build(df, n_lists=5, m=4, k=4, iters=2)
        persist_index(index, coarse, cents, str(tmp / "ivf"))
        vocab = [f"w{i}" for i in range(100)]
        docs = [(i, " ".join(rng.choice(vocab) for _ in range(100))) for i in range(20)]
        cdf = spark.createDataFrame(docs, "doc_id long, text string")
        build_chunk_pq_index(cdf, str(tmp / "pq"), n_lists=3, m=4, k=4)
        build_chunk_index(cdf, str(tmp / "chunk"), n_lists=3)
        return {k: str(tmp / k) for k in ("ivf", "pq", "chunk")}

    @pytest.fixture
    def collects(self, spark, monkeypatch):
        seen = []
        df_cls = type(spark.range(0))
        orig = df_cls.collect

        def spy(df):
            seen.append(df.columns)
            return orig(df)

        monkeypatch.setattr(df_cls, "collect", spy)
        return seen

    @pytest.mark.parametrize("kind", ["ivf", "pq"])
    def test_load_index_matches_spark_read_and_collects_nothing(
        self, spark, bases, kind, collects
    ):
        from ddf_flink_spark.functions.index_store import load_index

        _, coarse, codebooks = load_index(spark, bases[kind])
        assert collects == []
        want_coarse, want_cb = self._spark_read(spark, bases[kind])
        assert coarse == want_coarse and codebooks == want_cb
        assert all(type(x) is float for c in coarse for x in c)

    def test_load_chunk_index_matches_spark_read_and_collects_nothing(
        self, spark, bases, collects
    ):
        from ddf_flink_spark.functions.index_store import load_chunk_index

        _, coarse = load_chunk_index(spark, bases["chunk"])
        assert collects == []
        assert coarse == self._spark_read(spark, bases["chunk"])[0]

    @pytest.mark.parametrize("sidecar", ["coarse", "codebooks"])
    @pytest.mark.parametrize("how", ["missing", "empty"])
    def test_load_index_missing_or_empty_sidecar(
        self, spark, bases, tmp_path, sidecar, how
    ):
        import shutil

        from ddf_flink_spark.functions.index_store import load_index

        base = str(tmp_path / "idx")
        shutil.copytree(bases["ivf"], base)
        shutil.rmtree(f"{base}/{sidecar}")
        if how == "empty":
            schema = spark.read.parquet(f"{bases['ivf']}/{sidecar}").schema
            spark.createDataFrame([], schema).write.parquet(f"{base}/{sidecar}")
        msg = re.escape(f"empty {sidecar} sidecar at {base}/{sidecar}")
        with pytest.raises(ValueError, match=msg):
            load_index(spark, base)

    @pytest.mark.parametrize("how", ["missing", "empty"])
    def test_load_chunk_index_missing_or_empty_coarse(
        self, spark, bases, tmp_path, how
    ):
        import shutil

        from ddf_flink_spark.functions.index_store import load_chunk_index

        base = str(tmp_path / "chunk")
        shutil.copytree(bases["chunk"], base)
        shutil.rmtree(f"{base}/coarse")
        if how == "empty":
            spark.createDataFrame([], "list_id int, centroid array<double>").write.parquet(
                f"{base}/coarse"
            )
        msg = re.escape(f"empty coarse sidecar at {base}/coarse")
        with pytest.raises(ValueError, match=msg):
            load_chunk_index(spark, base)
