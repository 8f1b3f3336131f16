"""Property tests for the Tier C dedup / similarity operators:
planted duplicates must be recovered (SURVEY.md §5 strategy — the
hash gate can't check approximate ops, so these tests carry the
correctness burden for MinHash/SimHash/ANN)."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def planted_docs(spark, tmp_path_factory):
    """120 random documents + 3 planted near-dup pairs + 2 exact dups,
    written as a scratch 'documents' parquet so the operators run
    unchanged."""
    rng = random.Random(123)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    for i in range(120):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(60)),
                     "en", f"src{i % 4}", 0))
    # exact dups: 200<-copy of 0, 201<-copy of 1
    docs.append((200, docs[0][1], "en", "src0", 0))
    docs.append((201, docs[1][1], "en", "src1", 0))
    # near dups: copy with small edits (drop 3 words of 60 -> j ~ 0.8)
    for base, nid in [(2, 300), (3, 301), (4, 302)]:
        wsl = docs[base][1].split()
        for k in (5, 25, 45):
            wsl[k] = "edited"
        docs.append((nid, " ".join(wsl), "en", "srcX", 0))
    d = tmp_path_factory.mktemp("planted")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup_recovers_planted(spark, planted_docs):
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.dedup import (
        c01_dedup_exact,
    )

    rows = {r["keeper_doc_id"]: r["n_copies"]
            for r in c01_dedup_exact(spark, planted_docs).collect()}
    assert rows == {0: 2, 1: 2}


def test_minhash_lsh_recovers_planted_neardups(spark, planted_docs):
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.dedup import (
        c02_dedup_minhash_lsh,
    )

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in c02_dedup_minhash_lsh(spark, planted_docs).collect()}
    # exact dups found with jaccard 1.0
    assert pairs.get((0, 200)) == pytest.approx(1.0)
    assert pairs.get((1, 201)) == pytest.approx(1.0)
    # planted near-dups (3 edits in 60 words -> shingle jaccard ~0.7+)
    for base, nid in [(2, 300), (3, 301), (4, 302)]:
        assert (base, nid) in pairs, f"missed planted pair {(base, nid)}"
        assert pairs[(base, nid)] >= 0.5
    # no random-pair false positives at >= 0.5
    planted = {(0, 200), (1, 201), (2, 300), (3, 301), (4, 302)}
    assert set(pairs) == planted


def test_minhash_agrees_with_exact_jaccard(spark, planted_docs):
    """LSH-found pairs carry the exact Jaccard — must equal the c04
    all-pairs computation on the same pairs."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.dedup import (
        c02_dedup_minhash_lsh,
        c04_dedup_ngram_jaccard,
    )

    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in c02_dedup_minhash_lsh(spark, planted_docs).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in c04_dedup_ngram_jaccard(spark, planted_docs).collect()}
    for pair, j in lsh.items():
        assert exact.get(pair) == pytest.approx(j)


def test_simhash_finds_exact_and_near_dups(spark, planted_docs):
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.dedup import (
        c03_dedup_simhash,
    )

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in c03_dedup_simhash(spark, planted_docs).collect()}
    assert pairs.get((0, 200)) == 0  # identical text -> identical simhash
    assert pairs.get((1, 201)) == 0


@pytest.fixture(scope="module")
def planted_vectors(spark, tmp_path_factory):
    """200 random unit-ish vectors + 5 near-copies of vec 0."""
    rng = random.Random(99)
    rows = []
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows.append((0, [float(x) for x in base], 0))
    for i in range(1, 200):
        rows.append((i, [float(rng.gauss(0, 1)) for _ in range(64)], i % 5))
    for j in range(5):  # 900+j: base + small noise -> high cosine
        rows.append(
            (900 + j, [float(x + rng.gauss(0, 0.05)) for x in base], 9)
        )
    d = tmp_path_factory.mktemp("vecs")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_brute_topk_finds_planted_neighbors(spark, planted_vectors):
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        c05_cosine_topk_brute,
    )

    top = c05_cosine_topk_brute(spark, planted_vectors).collect()
    top5 = [r["vec_id"] for r in top[:5]]
    assert set(top5) == {900, 901, 902, 903, 904}
    assert all(r["cos_sim"] > 0.95 for r in top[:5])


def test_ann_lsh_recall_on_planted(spark, planted_vectors):
    """Near-copies of the query share its hyperplane signs with high
    probability — ANN must recover most of the planted top-5."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        c06_ann_lsh_topk,
    )

    got = {r["vec_id"] for r in c06_ann_lsh_topk(spark, planted_vectors).collect()}
    recall = len(got & {900, 901, 902, 903, 904}) / 5
    assert recall >= 0.8, f"ANN recall {recall} on planted near-copies"


def test_ann_ivf_recall_on_planted(spark, planted_vectors):
    """Near-copies of the query land in the same (or a probed) IVF
    cell — the IVF path must recover most of the planted top-5."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        c06c_ann_ivf_topk,
    )

    got = {r["vec_id"] for r in c06c_ann_ivf_topk(spark, planted_vectors).collect()}
    recall = len(got & {900, 901, 902, 903, 904}) / 5
    assert recall >= 0.8, f"IVF recall {recall} on planted near-copies"


def test_lsh_gated_cosine_dedup_planted(spark, planted_vectors):
    """c13b (LSH-bucketed pairs + exact cosine verify): the planted
    near-copy cluster {0, 900..904} is all-pairs high-cosine — the
    gated path must recover most of those pairs, and every emitted
    pair must independently pass the exact threshold (precision 1 by
    construction: verification IS the exact score)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        c13_dedup_embedding_cosine,
        c13b_dedup_lsh_gated_cosine,
    )

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in c13_dedup_embedding_cosine(spark, planted_vectors).collect()
    }
    gated = {
        (r["vec_a"], r["vec_b"])
        for r in c13b_dedup_lsh_gated_cosine(spark, planted_vectors).collect()
    }
    assert gated <= exact  # exact verify -> no false positives
    cluster = {0, 900, 901, 902, 903, 904}
    cluster_pairs = {p for p in exact if p[0] in cluster and p[1] in cluster}
    assert cluster_pairs, "fixture should plant high-cosine pairs"
    got = len(gated & cluster_pairs) / len(cluster_pairs)
    assert got >= 0.8, f"planted-cluster recall {got}"
    overall = len(gated & exact) / max(1, len(exact))
    assert overall >= 0.5, f"overall recall {overall}"


def test_frame_sample_stub_fanout(spark, planted_docs):
    """c14: each doc fans out to ceil(len(payload)/interval) frame rows
    with deterministic fingerprints."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.multimodal import (
        FRAME_INTERVAL,
        c14_multimodal_frame_sample,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.sources import load_table
    from pyspark.sql import functions as F

    frames = c14_multimodal_frame_sample(spark, planted_docs)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    lens = {
        r["doc_id"]: r["n_bytes"]
        for r in load_table(spark, planted_docs, "documents")
        .select("doc_id", F.length(F.encode("text", "utf-8")).alias("n_bytes"))
        .collect()
    }
    assert set(per_doc) == set(lens)
    for doc_id, n in per_doc.items():
        expected = -(-lens[doc_id] // FRAME_INTERVAL)  # ceil
        assert n == expected
    # deterministic across the exact-dup pair
    fp = {
        (r["doc_id"], r["frame_idx"]): r["frame_fingerprint"]
        for r in frames.filter(F.col("doc_id").isin(0, 200)).collect()
    }
    n0 = max(i for (d, i) in fp if d == 0) + 1
    assert all(fp[(0, i)] == fp[(200, i)] for i in range(n0))


def test_multimodal_decode_stub_schema(spark, planted_docs):
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.multimodal import (
        FEATURE_DIM,
        c12_multimodal_decode_features,
        decode_features_array,
    )

    df = decode_features_array(spark, planted_docs)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,features:array<double>,feature_dim:int>"
    )
    rows = df.collect()
    assert len(rows) == 125
    assert all(r["feature_dim"] == FEATURE_DIM for r in rows)
    # deterministic: same payload -> same features (the exact-dup docs)
    by_id = {r["doc_id"]: r["features"] for r in rows}
    assert by_id[0] == by_id[200]
    # the registered c12 query is the exploded, canonicalizable view
    exploded = c12_multimodal_decode_features(spark, planted_docs)
    assert exploded.schema.simpleString() == (
        "struct<doc_id:bigint,feature_idx:int,feature_value:double>"
    )
    assert exploded.count() == 125 * FEATURE_DIM


def test_cluster_resolution_transitive(spark, planted_docs):
    """c18: A~B and B~C collapse into one cluster with exactly one
    keeper (the min doc_id); cluster ids are fixpoint-stable."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.dedup import (
        c04_dedup_ngram_jaccard,
        c18_dedup_cluster_resolution,
    )

    rows = c18_dedup_cluster_resolution(spark, planted_docs).collect()
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    keeps = {r["doc_id"] for r in rows if r["keep"] == 1}
    # every cluster id is itself a member and the min of its cluster
    clusters: dict[int, list[int]] = {}
    for doc, cid in by_doc.items():
        clusters.setdefault(cid, []).append(doc)
    for cid, members in clusters.items():
        assert cid == min(members)
        assert len([m for m in members if m in keeps]) == 1
    # transitivity vs the raw pair graph: both endpoints of every pair
    # share a cluster id
    pairs = c04_dedup_ngram_jaccard(spark, planted_docs).collect()
    for p in pairs:
        assert by_doc[p["doc_a"]] == by_doc[p["doc_b"]]


def test_ivf_trained_codebook_improves_objective(spark, planted_vectors):
    """Lloyd's iterations must not worsen the spherical-KMeans
    objective (mean max-cosine to the nearest centroid), and the
    trained index must keep planted recall."""
    import numpy as np
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        c06d_ann_ivf_trained_topk,
        train_ivf_codebook,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.registry import t

    e = t(spark, planted_vectors, "embeddings")
    emb = np.stack([
        np.asarray(r[0], dtype=np.float64)
        for r in e.select("embedding").collect()
    ])
    emb /= np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-12)

    def objective(cents):
        return float((emb @ cents.T).max(axis=1).mean())

    cb0 = train_ivf_codebook(e, iters=0)  # init only
    cb3 = train_ivf_codebook(e, iters=3)
    assert objective(cb3) >= objective(cb0) - 1e-9, (
        f"training worsened the objective: {objective(cb0)} -> {objective(cb3)}"
    )
    # unit-norm invariant
    assert np.allclose(np.linalg.norm(cb3, axis=1), 1.0, atol=1e-9)

    got = {r["vec_id"] for r in c06d_ann_ivf_trained_topk(spark, planted_vectors).collect()}
    recall = len(got & {900, 901, 902, 903, 904}) / 5
    assert recall >= 0.8, f"trained-IVF recall {recall} on planted near-copies"


def test_dup_span_removal_keeps_first_occurrence(spark):
    """Planted cross-document repeat: the minimum doc_id keeps the
    span, every other doc loses EXACTLY the repeated tokens, unrelated
    docs pass through untouched (c33, VERDICT r8 item 8)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.text import (
        remove_duplicate_spans,
    )

    shared = " ".join(f"tok{i}" for i in range(12))  # 12-token block
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {shared} delta epsilon zeta eta"),
            (2, f"one two three four {shared} five six seven eight"),
            (3, "totally unrelated words that never repeat anywhere else"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, k=8, min_docs=2).collect()
    }
    # doc 1 is the keeper: nothing removed, text normalized only
    assert got[1].n_removed == 0
    assert got[1].text_clean == f"alpha beta gamma {shared} delta epsilon zeta eta"
    # doc 2 loses exactly the 12 shared tokens
    assert got[2].n_removed == 12
    assert got[2].text_clean == "one two three four five six seven eight"
    assert got[2].n_tokens == 20
    # doc 3 untouched
    assert got[3].n_removed == 0
    assert got[3].text_clean == got[3].text_clean.lower()
    assert "unrelated" in got[3].text_clean


def test_remove_boilerplate_cuts_planted_template(spark):
    """c38 (r16): a planted template shared by most docs is detected
    as a top-df gram and cut from EVERY occurrence (no keeper);
    non-template text survives, and a doc made of template-only text
    empties. min_docs floors singleton grams out of the winner set."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.text import (
        remove_boilerplate,
    )

    tpl = "subscribe to our newsletter"  # 4 tokens, two 3-grams
    rows = [
        (i, f"{tpl} article body {i} unique words here")
        for i in range(1, 7)
    ]
    rows.append((7, tpl))  # template-only doc
    rows.append((8, "completely different text with no template at all"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: r
        for r in remove_boilerplate(docs, k=3, top=2, min_docs=5).collect()
    }
    # the two template 3-grams appear in 7 docs each — both win;
    # their islands merge into one 4-token span per doc
    for i in range(1, 7):
        assert got[i].n_removed == 4, got[i]
        assert got[i].text_clean == f"article body {i} unique words here"
    # no keeper: the template-only doc empties
    assert got[7].n_removed == 4
    assert got[7].text_clean == ""
    # untouched doc passes through (normalized)
    assert got[8].n_removed == 0
    assert "template" in got[8].text_clean


def test_ivf_recall_at_scale_fixture(spark):
    """The measured ANN contract (VERDICT r9 item 6): on a 200k
    deterministic sub-corpus of the 1M x 64 clustered fixture
    (tools/ann_scale_bench.py; vec_id % 5 == 0 — layout-independent,
    unlike df.sample whose draw follows partitioning and flaked in
    the full suite), a k=1024 spherical-KMeans IVF probe-4 must beat
    the recall floor. Measured 0.938 mean / 0.70 min on the fixed
    subset; floors at 0.85 / 0.5 absorb the float-summation-order
    wiggle Lloyd averaging inherits from exchange merge order. The
    bench records the full-corpus point (probe-4 recall@10 0.9656,
    bench_results/ann_1m_r10.json); the small planted-recall property
    tests above are the always-on contract. Runs only when the
    fixture exists (a ~300 MB generated artifact, not repo content)."""
    import os

    import numpy as np
    import pytest as _pytest

    fixture = "benchdata/ann1m/embeddings.parquet"
    if not os.path.exists(fixture):
        _pytest.skip("1M ANN fixture not built (tools/ann_scale_bench.py)")

    import sys

    sys.path.insert(0, "tools")
    from ann_scale_bench import TOPK, brute_topk, queries_matrix

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        cosine,
        ivf_assign_udf,
        train_ivf_codebook,
    )

    corpus = (
        spark.read.parquet(fixture)
        .filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
        .cache()
    )
    qm = queries_matrix()[:8]  # 8 queries keep the test under ~1 min
    truth = {}
    for r in brute_topk(spark, corpus, qm).collect():
        truth.setdefault(r.qid, set()).add(r.vec_id)
    # train on a deterministic 10% of the corpus (mod-50 c mod-5)
    cb = train_ivf_codebook(
        corpus.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 0),
        k=1024,
        iters=2,
    )
    qsims = qm @ cb.T
    probe = 4
    indexed = corpus.withColumn(
        "cell", F.element_at(ivf_assign_udf(1, cb)("embedding"), 1)
    )
    qcells = np.argsort(-qsims, axis=1)[:, :probe]
    qrows = [
        (int(qi), [float(x) for x in qm[qi]], int(c))
        for qi in range(qm.shape[0])
        for c in qcells[qi]
    ]
    qdf = spark.createDataFrame(qrows, "qid int, qvec array<float>, cell int")
    cells = sorted({int(c) for row in qcells for c in row})
    cand = indexed.filter(F.col("cell").isin(cells)).join(
        F.broadcast(qdf), "cell"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    got_rows = (
        cand.select(
            "qid", "vec_id",
            cosine(F.col("embedding"), F.col("qvec")).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .collect()
    )
    corpus.unpersist()
    got = {}
    for r in got_rows:
        got.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [len(got.get(q, set()) & truth[q]) / TOPK for q in truth]
    assert float(np.mean(recalls)) >= 0.85, recalls
    assert min(recalls) >= 0.5, recalls


def test_c06e_verified_ivf_restricts_and_is_exact(spark):
    """c06e (r12, VERDICT r10 item 6): the hash-gated IVF episode must
    (a) actually RESTRICT — its candidate set is the probed cells'
    posting lists, a strict subset of the corpus — and (b) be EXACT:
    its top-20 equals brute force over the same planted corpus (the
    property the DuckDB oracle gates at the driver; asserted here
    engine-internally so the claim doesn't depend on the oracle
    harness)."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import cosine
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        N_PROBE,
        c06e_ann_ivf_verified_topk,
        ivf_assign_udf,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.registry import t

    sf = "/root/testdata/sf0.001"
    got = c06e_ann_ivf_verified_topk(spark, sf).collect()
    # the plant is the answer: 20 rows, all planted ids, descending
    assert [r["vec_id"] for r in got] == [1000000 + i for i in range(1, 21)]
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)
    assert all(r["label"] == -1 for r in got)
    # restriction: the probed posting lists hold < half the corpus
    # (16 cells, probe 4 — a degenerate assignment that dumped
    # everything into the probed cells would void the episode's point)
    e = t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cells = e.withColumn(
        "cell", F.element_at(ivf_assign_udf(1)("embedding"), 1)
    )
    probe_cells = {
        r["cell"]
        for r in e.filter(F.col("vec_id") == 0)
        .select(F.explode(ivf_assign_udf(N_PROBE)("embedding")).alias("cell"))
        .collect()
    }
    assert len(probe_cells) == N_PROBE
    frac = (
        cells.filter(F.col("cell").isin(list(probe_cells))).count()
        / cells.count()
    )
    assert frac < 0.5, f"probed cells hold {frac:.0%} of the corpus"


# -- r14: real BMP codec (c12b) ---------------------------------------------


def test_bmp_codec_roundtrip_padding_and_row_order():
    """The stdlib BMP codec is real: byte-level layout pins (magic,
    54-byte data offset, 4-byte row padding, bottom-up row storage),
    exact roundtrip, top-down (negative height) decode, and loud
    refusal of non-BMP / unsupported payloads."""
    import struct

    import pytest as _pytest

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    # 2x2, distinct channel values per pixel
    px = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
    raw = encode_bmp(2, 2, px)
    assert raw[:2] == b"BM"
    (off,) = struct.unpack_from("<I", raw, 10)
    assert off == 54
    # row stride = 2*3 padded to 8; file = 54 + 16
    assert len(raw) == 54 + 16
    # bottom-up: first stored row is pixels[1]; BGR order on disk
    assert raw[54:57] == bytes((9, 8, 7))
    assert raw[60:62] == b"\x00\x00"  # the pad bytes
    w, h, back = decode_bmp(raw)
    assert (w, h, back) == (2, 2, px)

    # top-down variant: flip height sign and row order manually
    td = bytearray(raw)
    struct.pack_into("<i", td, 22, -2)
    td[54:62], td[62:70] = raw[62:70], raw[54:62]
    assert decode_bmp(bytes(td))[2] == px

    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"not a bmp at all, just bytes")
    bad = bytearray(raw)
    struct.pack_into("<H", bad, 28, 32)  # 32bpp unsupported
    with _pytest.raises(ValueError, match="bpp=32"):
        decode_bmp(bytes(bad))
    # corrupt dimensions refuse loudly (r14 review finding)
    neg_w = bytearray(raw)
    struct.pack_into("<i", neg_w, 18, -2)
    with _pytest.raises(ValueError, match="malformed BMP header"):
        decode_bmp(bytes(neg_w))
    huge = bytearray(raw)
    struct.pack_into("<i", huge, 22, 10**6)  # height beyond payload
    with _pytest.raises(ValueError, match="exceed"):
        decode_bmp(bytes(huge))


def test_c12b_decodes_real_pixels(spark):
    """c12b's stats come from DECODED bytes, not the formula: corrupt
    one payload byte and the decoded stats change accordingly."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.multimodal import (
        IMG_H,
        IMG_W,
        _fixture_pixel,
        c12b_multimodal_real_decode,
        decode_bmp,
        encode_image_fixture,
    )

    sf = "/root/testdata/sf0.001"
    row = (
        c12b_multimodal_real_decode(spark, sf)
        .filter("doc_id = 7").first()
    )
    expect = [
        _fixture_pixel(7, x, y) for y in range(IMG_H) for x in range(IMG_W)
    ]
    assert row.sum_r == sum(p[0] for p in expect)
    assert row.min_b == min(p[2] for p in expect)
    assert (row.width, row.height) == (IMG_W, IMG_H)
    # and the payload really is a parseable BMP carrying those pixels
    payload = bytes(
        encode_image_fixture(spark, sf).filter("doc_id = 7").first().payload
    )
    w, h, px = decode_bmp(payload)
    assert [p for prow in px for p in prow] == expect


# -- r15: real WAV codec (c12c) ----------------------------------------------


def test_wav_codec_roundtrip_and_refusals():
    """The stdlib WAV codec is real: RIFF byte-level pins, exact
    int16 roundtrip (mono and stereo-interleaved), and loud refusal
    of non-WAV, non-16-bit, and truncated payloads."""
    import struct

    import pytest as _pytest

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 1, -1, 32767, -32768, 1234, -4321, 7]
    raw = encode_wav(8000, samples)
    assert raw[:4] == b"RIFF" and raw[8:12] == b"WAVE"
    rate, channels, back = decode_wav(raw)
    assert (rate, channels, back) == (8000, 1, samples)
    # stereo interleave survives the roundtrip
    raw2 = encode_wav(16000, samples, channels=2)
    rate2, ch2, back2 = decode_wav(raw2)
    assert (rate2, ch2, back2) == (16000, 2, samples)

    with _pytest.raises(ValueError, match="not a RIFF/PCM WAV"):
        decode_wav(b"definitely not audio bytes")
    # 8-bit PCM refuses (sample width 1)
    eight = encode_wav(8000, samples)
    mut = bytearray(eight)
    # flip BlockAlign+BitsPerSample in the fmt chunk (offsets 32, 34)
    struct.pack_into("<H", mut, 32, 1)
    struct.pack_into("<H", mut, 34, 8)
    with _pytest.raises(ValueError, match="sample width"):
        decode_wav(bytes(mut))
    # truncated data refuses: chop half the sample bytes but keep the
    # header's declared frame count
    trunc = bytearray(raw)
    declared = struct.unpack_from("<I", trunc, 4)[0]
    del trunc[len(trunc) - 8:]
    struct.pack_into("<I", trunc, 4, declared)  # keep RIFF size stale
    with _pytest.raises(ValueError, match="truncated|not a RIFF"):
        decode_wav(bytes(trunc))


def test_c12c_decodes_real_samples(spark):
    """c12c's stats come from DECODED bytes: the fixture payload is a
    parseable WAV whose samples match the formula, and the aggregated
    stats equal the formula's."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.multimodal import (
        N_FRAMES,
        SAMPLE_RATE,
        _fixture_sample,
        c12c_multimodal_audio_decode,
        decode_wav,
        encode_audio_fixture,
    )

    sf = "/root/testdata/sf0.001"
    row = (
        c12c_multimodal_audio_decode(spark, sf)
        .filter("doc_id = 7").first()
    )
    expect = [_fixture_sample(7, i) for i in range(N_FRAMES)]
    assert row.sum_s == sum(expect)
    assert row.min_s == min(expect) and row.max_s == max(expect)
    assert row.sum_sq == sum(v * v for v in expect)
    assert (row.n_frames, row.sample_rate, row.channels) == (
        N_FRAMES, SAMPLE_RATE, 1,
    )
    payload = bytes(
        encode_audio_fixture(spark, sf).filter("doc_id = 7").first().payload
    )
    rate, channels, samples = decode_wav(payload)
    assert (rate, channels, samples) == (SAMPLE_RATE, 1, expect)


def test_auto_codebook_k_sizing(spark):
    """r16 (VERDICT r15 item 4): codebook auto-sizing enforces the
    SCALE.md R15 guidance — k ~ n / IVF_TARGET_CELL, floored at
    N_CENTROIDS, capped at n — and train_ivf_codebook(k=None) applies
    it, so gate-scale corpora keep the historical k=16 (hashes
    unchanged) while decade-scale corpora get sane cells by default."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        IVF_TARGET_CELL,
        N_CENTROIDS,
        auto_codebook_k,
        train_ivf_codebook,
    )

    # floor: every gate/sweep scale sits at the historical default
    assert auto_codebook_k(0) == N_CENTROIDS
    assert auto_codebook_k(2_000) == N_CENTROIDS
    assert auto_codebook_k(16 * IVF_TARGET_CELL) == N_CENTROIDS
    # scaling: the R15 probe points
    assert auto_codebook_k(200_000) == 200_000 // IVF_TARGET_CELL
    assert auto_codebook_k(10_000_000) == 10_000_000 // IVF_TARGET_CELL
    # cap: never more centroids than vectors
    assert auto_codebook_k(5) == 5
    # default k=None routes through the auto-sizer (tiny frame -> the
    # floor, capped at n rows of init)
    import numpy as np

    rows = [(i, [float(i), 1.0]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = train_ivf_codebook(e, iters=0)
    assert cb.shape == (N_CENTROIDS, 2)
    norms = np.linalg.norm(cb, axis=1)
    assert np.allclose(norms, 1.0)


def test_semantic_dedup_production_entrypoint(spark):
    """r16: semantic_dedup (trained auto-sized codebook + keep-first
    within cells) drops planted near-duplicates and keeps the
    smallest-id copy; distinct vectors all survive."""
    import numpy as np

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.RandomState(7)
    base = rng.standard_normal((6, 8))
    unit = [b / np.linalg.norm(b) for b in base]

    def jit(v):
        return [float(x) for x in v + rng.standard_normal(8) * 1e-3]

    # ids 0-5: one copy of each DISTINCT vector (so the trainer's
    # first-k init seeds distinct centroids); ids 6-9: extra planted
    # copies of vectors 0 and 1
    rows = [(i, jit(unit[i])) for i in range(6)]
    rows += [(6, jit(unit[0])), (7, jit(unit[0])),
             (8, jit(unit[1])), (9, jit(unit[1]))]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    # k pinned: auto-sizing floors at N_CENTROIDS=16 > n here, which
    # caps to one-vector-per-cell (tiny corpora aren't the use case)
    got = {
        r.vec_id: r.keep
        for r in semantic_dedup(df, tau=0.95, k=4).collect()
    }
    assert len(got) == 10
    # keep-first retains the minimum id of each planted cluster and
    # drops the later copies
    assert got[0] is True and got[6] is False and got[7] is False
    assert got[1] is True and got[8] is False and got[9] is False
    # distinct singletons survive
    assert all(got[i] for i in range(2, 6))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ["c02_dedup_minhash_lsh", "c04_dedup_ngram_jaccard"])
def test_heavy_input_gate_both_sides(spark, planted_docs, monkeypatch, name):
    """c02's ds persist and c04's (doc_a, doc_b) repartition are gated
    on heavy_input(sf): the planted corpus is light, and lowering the
    64 MB bound makes it heavy. Both sides return the same pairs and
    Jaccards; only the heavy side carries the extra plan node."""
    from sample_iceberg_schema_evolution_pyiceberg_spark import session
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import dedup

    query = getattr(dedup, name)
    light = query(spark, planted_docs)
    light_plan = _plan(light)
    light_rows = sorted(tuple(r) for r in light.collect())
    monkeypatch.setattr(session, "_HEAVY_INPUT_BYTES", 1)
    heavy = query(spark, planted_docs)
    heavy_plan = _plan(heavy)
    assert sorted(tuple(r) for r in heavy.collect()) == light_rows
    assert light_rows  # the planted pairs are found on both sides
    if name.startswith("c04"):
        marker = re.compile(
            r"Exchange hashpartitioning\(doc_a#\d+L?, doc_b#\d+L?, \d+\), "
            r"REPARTITION_BY_NUM"
        )
    else:  # the persisted candidate gram sets, read by both join arms
        marker = re.compile(r"InMemoryRelation \[doc_a#\d+L?, ga#\d+\]")
    assert marker.search(heavy_plan)
    assert not marker.search(light_plan)
