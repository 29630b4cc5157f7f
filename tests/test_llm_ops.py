"""LLM-pipeline operator tests: shingle edge cases, minhash
determinism, LSH recall vs brute force, multimodal batch plumbing."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from oups_spark.operators.dedup import minhash_signatures
from oups_spark.operators.multimodal import extract_features, pack_documents_as_media
from oups_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from oups_spark.operators.text import shingles, simhash60, tokens
from oups_spark.tables import load
from tests.conftest import SF_DIR


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["one two", "a", "", "x y z"]}))
    got = df.select(shingles(tokens(F.col("text"))).alias("sh")).toPandas()
    assert list(got["sh"].apply(len)) == [0, 0, 0, 1]
    assert got["sh"].iloc[3] == ["x y z"]


def test_minhash_deterministic_and_permutation_sensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "the quick brown fox jumps over the lazy dog",  # identical
                    "completely different words entirely here now",
                ],
            }
        )
    )
    sigs = minhash_signatures(df, "doc_id", "text").toPandas().set_index("doc_id")
    assert (sigs.loc[1] == sigs.loc[2]).all()  # identical text -> identical sig
    assert (sigs.loc[1] != sigs.loc[3]).any()
    # run twice: bit-identical (no RNG state)
    sigs2 = minhash_signatures(df, "doc_id", "text").toPandas().set_index("doc_id")
    pd.testing.assert_frame_equal(sigs, sigs2)


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta epsilon zeta eta theta",
                    "alpha beta gamma delta epsilon zeta eta iota",  # 1 word diff
                    "one two three four five six seven eight",
                ],
            }
        )
    )
    got = df.select("doc_id", simhash60(F.col("text")).alias("h")).toPandas()
    h = dict(zip(got["doc_id"], got["h"]))
    d12 = bin(h[1] ^ h[2]).count("1")
    d13 = bin(h[1] ^ h[3]).count("1")
    assert d12 < d13, f"near-dup hamming {d12} should beat unrelated {d13}"


def test_simhash_wide_banded_pairs_match_brute_force(spark):
    """Pigeonhole recall of the 64-bit/16-bit-band form: the banded
    self-join must return EXACTLY the pairs a brute-force all-pairs
    Hamming scan finds at max_hamming <= bands-1, and the signature
    halves must stay within 32 unsigned bits (engine portability)."""
    from itertools import combinations

    from oups_spark.operators.dedup import simhash_neardup_pairs
    from oups_spark.operators.text import simhash_signatures_wide

    base = "the quick brown fox jumps over the lazy dog near the river "
    rows = [(i, base + f"variant {i % 7} tail {i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in simhash_signatures_wide(df, "doc_id", "text").collect()
    }
    assert all(
        0 <= hi < (1 << 32) and 0 <= lo < (1 << 32)
        for hi, lo in sigs.values()
    )
    brute = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a][0] ^ sigs[b][0]).count("1")
        + bin(sigs[a][1] ^ sigs[b][1]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            df, "doc_id", "text", max_hamming=3, bands=4, bits=64
        ).collect()
    }
    assert banded == brute
    assert brute, "test corpus produced no near-dup pairs"


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = lsh_cosine_topk(emb, queries, k=5, n_planes=4, n_tables=8).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # these synthetic embeddings are near-uniform (weak clustering),
    # so LSH recall is modest by nature; with 8 tables x 16 buckets
    # it must still clear 0.5 (chance would be ~few %)
    assert recall > 0.5, f"LSH recall {recall:.2f} suspiciously low"
    # and every reported neighbor must share the query's bucket-local
    # ranking invariant: rank values are 1..k without gaps per query
    for _, g in approx.groupby("query_id"):
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_multimodal_plumbing_roundtrip(spark):
    docs = load(spark, SF_DIR, "documents").limit(50)
    media = pack_documents_as_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media).toPandas().sort_values("doc_id")
    src = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    assert len(feats) == len(src)
    # deterministic stub features match a local recomputation
    for (_, f), (_, s) in zip(feats.iterrows(), src.iterrows()):
        payload = s["text"].encode("utf-8")
        assert f["n_bytes"] == len(payload)
        assert f["checksum"] == sum(payload) % (1 << 31)
        assert f["mean_byte"] == pytest.approx(sum(payload) / len(payload))


def test_ivf_topk_recall_and_determinism(spark):
    from oups_spark.operators.similarity import ivf_cosine_topk

    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ivf_cosine_topk(emb, queries, k=5, n_cells=16, nprobe=4).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # probing 4/16 cells of weakly-clustered synthetic vectors: must
    # clearly beat the 25% corpus fraction baseline
    assert recall > 0.5, f"IVF recall {recall:.2f} suspiciously low"
    for _, g in approx.groupby("query_id"):
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))
    # seeded sample + literal centroids => bit-identical reruns
    again = ivf_cosine_topk(emb, queries, k=5, n_cells=16, nprobe=4).toPandas()
    assert approx.equals(again)


def test_ivf_sampling_representative_under_skewed_order(spark):
    """Centroid training must survive a cluster-ordered corpus (ids
    correlated with cluster — the 100 TB failure mode for prefix
    sampling): the xxhash64-stride sample draws from every cluster,
    so per-cluster cells exist and probe recall stays high."""
    import numpy as np

    from oups_spark.operators.similarity import ivf_cosine_topk

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 8, 250, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in range(n_clusters):  # ids strictly ordered by cluster
        for p in centers[c] + 0.05 * rng.normal(size=(per, dim)):
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ivf_cosine_topk(
        emb, queries, k=5, n_cells=8, nprobe=2, sample_size=256
    ).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # a prefix sample would see ONLY cluster 0 -> recall ~ nprobe/cells
    # = 25% on the tight clusters here; the hash sample must be near-exact
    assert recall > 0.8, f"skew-ordered IVF recall {recall:.2f}"


def test_ngram_jaccard_df_cap_exact_and_bounded(spark):
    """df_cap semantics: a generous cap changes nothing (planted
    shingles are rare); an aggressive cap may only SHRINK the pair
    set, never alter a surviving pair's jaccard, and must retain the
    planted near-identical pairs (their shingles are rare by
    construction)."""
    from oups_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, SF_DIR, "documents")
    kw = dict(block_col="lang", threshold=0.5)
    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", **kw).collect()
    }
    assert base, "fixture should contain planted near-dup pairs"
    wide = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", df_cap=10**6, **kw
        ).collect()
    }
    assert wide == base
    tight = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", df_cap=3, **kw
        ).collect()
    }
    assert set(tight) <= set(base)
    assert all(base[p] == j for p, j in tight.items())
    high_sim = {p for p, j in base.items() if j >= 0.9}
    assert high_sim <= set(tight)


def _planted_vectors(n=600, dim=32, n_pairs=8, seed=11):
    """Random unit vectors plus planted ~0.97-cosine near-dup pairs."""
    import numpy as np

    rng = np.random.default_rng(seed)
    V = rng.normal(size=(n, dim))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    planted = []
    for i in range(n_pairs):
        a, b = 2 * i, 2 * i + 1
        V[b] = V[a] + 0.03 * rng.normal(size=dim)
        V[b] /= np.linalg.norm(V[b])
        planted.append((a, b))
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": range(n),
            "label": ["x"] * n,   # one block: worst case for all-pairs
            "embedding": [v.astype("float64").tolist() for v in V],
        }
    )
    return pdf, planted


def test_neardup_lsh_matches_exact_at_high_threshold(spark):
    """method='lsh' (the >=0.7-threshold default) must reproduce the
    exact result on planted 0.9+ pairs with the fixed seed."""
    from oups_spark.operators.similarity import embedding_neardup_pairs

    pdf, planted = _planted_vectors()
    df = spark.createDataFrame(pdf).repartition(8)
    exact = (
        embedding_neardup_pairs(df, threshold=0.9, method="exact")
        .toPandas().sort_values(["id_a", "id_b"], ignore_index=True)
    )
    lsh = (
        embedding_neardup_pairs(df, threshold=0.9, method="lsh")
        .toPandas().sort_values(["id_a", "id_b"], ignore_index=True)
    )
    assert len(exact) >= len(planted)
    import pandas as pd

    pd.testing.assert_frame_equal(exact, lsh)


def test_lsh_candidates_subquadratic(spark):
    """The LSH candidate set must be a small fraction of all pairs —
    the whole point of the sub-quadratic default."""
    from oups_spark.operators.similarity import lsh_candidate_pairs

    pdf, _ = _planted_vectors()
    df = spark.createDataFrame(pdf).repartition(8)
    n = len(pdf)
    all_pairs = n * (n - 1) // 2
    n_cand = lsh_candidate_pairs(
        df, block_col="label", dim=32
    ).count()
    # defaults: 20 tables x 10 planes -> random-pair collision ~2%
    assert n_cand < 0.10 * all_pairs, (n_cand, all_pairs)


def test_neardup_auto_dispatch(spark):
    from oups_spark.operators import similarity as S

    pdf, _ = _planted_vectors(n=60, n_pairs=2)
    df = spark.createDataFrame(pdf)
    # low threshold -> exact (LSH cannot prune there); the result must
    # contain every pair an exhaustive check finds
    auto_low = S.embedding_neardup_pairs(df, threshold=0.3, method="auto")
    exact_low = S.embedding_neardup_pairs(df, threshold=0.3, method="exact")
    assert auto_low.count() == exact_low.count()


def test_multimodal_resize_and_frame_sample(spark):
    from oups_spark.operators.multimodal import (
        extract_features,
        pack_documents_as_media,
        resize_payloads,
        sample_frames,
    )

    docs = load(spark, SF_DIR, "documents").limit(20)
    media = pack_documents_as_media(docs)

    resized = resize_payloads(media, target_bytes=48)
    feats = extract_features(resized).toPandas()
    # every payload now exactly 48 bytes (truncate-or-pad)
    assert (feats["n_bytes"] == 48).all()

    frames = sample_frames(
        media, frame_bytes=16, every_n=3, max_frames=2
    ).toPandas()
    src = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    for _, row in frames.iterrows():
        payload = src[row["doc_id"]]
        fi = int(row["frame_idx"])
        assert fi % 3 == 0 and fi < 6  # every 3rd frame, max 2
        fb = payload[fi * 16 : (fi + 1) * 16]
        assert row["n_bytes"] == len(fb)
        assert row["checksum"] == sum(fb) % (1 << 31)
    # fan-out bounded: at most max_frames rows per doc
    assert frames.groupby("doc_id").size().max() <= 2


def test_pq_topk_recall_and_determinism(spark):
    from oups_spark.operators.similarity import pq_cosine_topk

    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = pq_cosine_topk(emb, queries, k=5).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # rerank=64 over the tiny sf0.001 corpus covers nearly all of it,
    # and ADC ordering is a faithful proxy — recall should be high
    assert recall > 0.8, f"PQ recall {recall:.2f} suspiciously low"
    # bit-identical across runs (codebooks are seeded, sample is
    # hash-ordered — no RNG or partition-order dependence)
    approx2 = pq_cosine_topk(emb, queries, k=5).toPandas()
    pd.testing.assert_frame_equal(
        approx.reset_index(drop=True), approx2.reset_index(drop=True)
    )
    for _, g in approx.groupby("query_id"):
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_mmr_prefers_diverse_picks(spark):
    """Crafted set: 3 near-identical highly-relevant vectors + one
    slightly-less-relevant orthogonal vector. Plain top-3 takes the
    redundant trio; MMR's step-2+ diversity penalty must pull in the
    orthogonal one."""
    from oups_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0]),        # the query
        (1, [0.99, 0.1, 0.0]),       # redundant cluster
        (2, [0.99, 0.11, 0.0]),
        (3, [0.99, 0.12, 0.0]),
        (4, [0.5, 0.0, 0.8]),        # less relevant, diverse
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = mmr_rerank(
        df,
        df.filter("vec_id = 0"),
        n_candidates=4,
        k=3,
        lam=0.5,
    ).collect()
    picked = [r["vec_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
    assert 4 in picked, picked           # the diverse vector is selected
    assert picked[0] in (1, 2, 3)        # step 1 is pure relevance

def test_mmr_zero_norm_vector_scores_zero_not_null(spark):
    """A zero-norm candidate must get rel = 0.0 (the guarded
    cosine_expr), matching the DuckDB replay's sqrt(na*nb) guard —
    the unguarded dot/(|a||b|) form yields NULL and silently drops
    the candidate from the ranking."""
    from oups_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0]),   # the query
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),   # zero-norm candidate
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = mmr_rerank(
        df, df.filter("vec_id = 0"), n_candidates=3, k=3, lam=0.5
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert set(by_id) == {1, 2, 3}          # zero-norm row is ranked
    assert by_id[2]["rel_sim"] == 0.0       # guarded cosine, not NULL


def test_mmr_driver_fast_path_equals_distributed(spark):
    """The driver replay (default threshold) must match the unrolled
    distributed loop (driver_threshold=0) row-for-row, including
    rel_sim bits, on a many-query random set."""
    import random

    from oups_spark.operators.similarity import mmr_rerank

    rng = random.Random(5)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter("vec_id < 6")

    def runs(thr):
        return sorted(
            (
                r["query_id"],
                r["vec_id"],
                r["mmr_rank"],
                r["rel_sim"],
            )
            for r in mmr_rerank(
                df, q, n_candidates=10, k=4, lam=0.7,
                driver_threshold=thr,
            ).collect()
        )

    assert runs(10_000) == runs(0)


def test_decode_backends_stub_and_optional_pil(spark):
    """decode_stub backend selection: 'stub' is the deterministic
    formula over raw bytes; 'auto' falls back to the stub when PIL is
    absent or the payload is not an image (both true for these text
    payloads regardless of environment), so the oracle-pinned values
    hold under either install; 'pil' refuses loudly instead of
    silently stubbing."""
    import pytest

    from oups_spark.operators.multimodal import decode_stub

    payload = b"not an image, just bytes"
    stub = decode_stub(payload, decoder="stub")
    assert stub == decode_stub(payload, decoder="auto")
    assert stub["n_bytes"] == len(payload)
    assert stub["checksum"] == sum(payload) % (1 << 31)
    with pytest.raises(NotImplementedError):
        decode_stub(payload, decoder="pil")
    with pytest.raises(NotImplementedError):
        decode_stub(None)


def test_knn_graph_exact_matches_bruteforce_and_lsh_recall(spark):
    """knn_graph: the exact blocked form must equal a local
    brute-force top-k per node (ties by id); the LSH form's edges
    must be a high-recall subset ranked consistently."""
    import numpy as np

    from oups_spark.operators.similarity import knn_graph

    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    rows = emb.select("vec_id", "label", "embedding").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in rows}
    lab = {r["vec_id"]: r["label"] for r in rows}

    def cos(a, b):
        d = np.linalg.norm(V[a]) * np.linalg.norm(V[b])
        return float(V[a] @ V[b] / d) if d else 0.0

    k = 4
    expect = set()
    for a in V:
        cands = sorted(
            (b for b in V if b != a and lab[b] == lab[a]),
            key=lambda b: (-cos(a, b), b),
        )[:k]
        expect.update((a, b) for b in cands)
    got = {
        (r["src"], r["dst"])
        for r in knn_graph(emb, k=k, block_col="label").collect()
    }
    assert got == expect

    approx = knn_graph(
        emb, k=k, block_col="label", method="lsh",
        n_planes=4, n_tables=24,
    ).collect()
    apairs = {(r["src"], r["dst"]) for r in approx}
    recall = len(apairs & expect) / len(expect)
    assert recall > 0.5, f"LSH knn-graph recall {recall:.2f} too low"
    # per-src ranks are 1..n contiguous
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in approx:
        by_src[r["src"]].append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_src.values())


def test_lsh_paths_return_empty_on_empty_or_allnull_input(spark):
    """The LSH dim probe must not crash on an empty frame or all-NULL
    vectors (review finding) — both return an empty result with the
    operator's output schema."""
    from oups_spark.operators.similarity import (
        embedding_neardup_pairs,
        knn_graph,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, label string, embedding array<double>"
    )
    allnull = spark.createDataFrame(
        [(1, "a", None), (2, "a", None)],
        "vec_id long, label string, embedding array<double>",
    )
    for df in (empty, allnull):
        g = knn_graph(df, k=3, block_col="label", method="lsh")
        assert g.count() == 0
        assert g.columns == ["src", "dst", "rank", "cosine_sim"]
        p = embedding_neardup_pairs(df, threshold=0.9, method="lsh")
        assert p.count() == 0
        assert p.columns == ["id_a", "id_b", "cosine_sim"]


def test_decoder_typo_rejected_up_front():
    """ADVICE r9: an unrecognized decoder value ('PIL', 'ffmpeg') must
    raise, not silently take the stub path and hand back fake
    features."""
    import pytest

    from oups_spark.operators.multimodal import decode_stub, extract_features

    with pytest.raises(ValueError, match="decoder must be"):
        decode_stub(b"abc", decoder="PIL")
    with pytest.raises(ValueError, match="decoder must be"):
        extract_features(None, decoder="ffmpeg")


def _bpe_reference(texts, n_merges):
    """Pure-Python BPE twin (independent of the Spark code): word
    counts, weighted pair counts, lexicographic tiebreak, greedy
    left-to-right non-overlapping merge."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        words.update(re.findall(r"[a-z0-9]+", t.lower()))
    vocab = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for r in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += words[w]
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r + 1, a, b, a + b, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_pure_python_reference(spark):
    """Distributed BPE == an independent in-memory implementation on
    a corpus engineered to hit the sharp edges: an all-same-letter
    word ('aaaa' — greedy non-overlap must merge positions 1-2 and
    3-4, never the straddling 2-3), count-weighted ties broken
    lexicographically, and single-char words."""
    from oups_spark.operators.bpe import bpe_train

    texts = [
        "aaaa aaaa aaaa banana banana bandana",
        "a b a b cc cc cc aaaa",
        "Ba-na-na! banana, the 2nd banana",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["token"],
         r["pair_count"])
        for r in bpe_train(df, "text", n_merges=10).orderBy("rank").collect()
    ]
    assert got == _bpe_reference(texts, 10)
    # the overlap case really occurred: some early merge is (a, a)
    assert ("a", "a") in {(l, r) for _, l, r, _, _ in got[:3]}


def test_bpe_train_driver_equals_distributed(spark, monkeypatch):
    """The round-14 driver fast path (vocabulary under the cap) and
    the distributed fallback loop must emit the IDENTICAL merge table
    and final vocabulary — forcing the fallback via the cap."""
    from oups_spark.operators import bpe
    from oups_spark.operators.bpe import bpe_train

    texts = [
        "aaaa aaaa aaaa banana banana bandana",
        "a b a b cc cc cc aaaa",
        "Ba-na-na! banana, the 2nd banana",
        "zz zz zy yz zyzy 007 007 007 0a0a",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def snap(res):
        merges, vocab = res
        m = [
            tuple(r)
            for r in merges.orderBy("rank").collect()
        ]
        v = sorted(
            (r["w"], r["cnt"], tuple(r["syms"]))
            for r in vocab.collect()
        )
        return m, v

    fast = snap(bpe_train(df, "text", n_merges=8, return_vocab=True))
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_CAP", 0)
    slow = snap(bpe_train(df, "text", n_merges=8, return_vocab=True))
    assert fast == slow


def test_bpe_token_counts_match_pure_python(spark):
    """Encoding with the learned merges: per-doc word/token counts
    equal applying the reference merges to each document's words."""
    from oups_spark.operators.bpe import bpe_token_counts

    texts = [
        "aaaa banana band",
        "a banana is a banana",
        "bandana aaaa aaaa",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_token_counts(df, "text", "doc_id", n_merges=6).collect()
    }

    import re

    merges = [(l, r) for _, l, r, _, _ in _bpe_reference(texts, 6)]

    def encode(word):
        syms = list(word) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for i, t in enumerate(texts):
        words = re.findall(r"[a-z0-9]+", t.lower())
        exp = (len(words), sum(len(encode(w)) for w in words))
        assert got[i] == exp, (i, got[i], exp)


def test_bpe_encode_with_pretrained_table_never_retrains(spark):
    """VERDICT r10 #6: encoding with a pre-trained tokenizer — via
    the merges table (covers words UNSEEN at training) or the vocab
    table — must equal the pure-Python encode, and all three join
    paths (vocab-broadcast, merges-broadcast, merges-shuffle) agree."""
    import re

    from oups_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        segment_words,
    )

    train_texts = [
        "aaaa banana band banana",
        "a banana is a banana bandana",
    ]
    train_df = spark.createDataFrame(
        [(t,) for t in train_texts], "text string"
    )
    merges_df, vocab = bpe_train(
        train_df, "text", n_merges=6, return_vocab=True
    )

    # encode a DIFFERENT corpus with unseen words (cabana, bandanna)
    enc_texts = ["banana cabana band", "bandanna aaaa banana banana"]
    enc_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(enc_texts)],
        "doc_id long, text string",
    )
    got_merges = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_token_counts(
            enc_df, "text", "doc_id", merges=merges_df
        ).collect()
    }
    got_shuffle = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_token_counts(
            enc_df, "text", "doc_id", merges=merges_df,
            broadcast_vocab=False,
        ).collect()
    }

    ref = _bpe_reference(train_texts, 6)
    assert [
        (r["rank"], r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("rank").collect()
    ] == [(k, a, b) for k, a, b, _, _ in ref]
    merges = [(a, b) for _, a, b, _, _ in ref]

    def encode(word):
        syms = list(word) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for i, t in enumerate(enc_texts):
        words = re.findall(r"[a-z0-9]+", t.lower())
        exp = (len(words), sum(len(encode(w)) for w in words))
        assert got_merges[i] == exp, (i, got_merges[i], exp)
    assert got_shuffle == got_merges

    # vocab path agrees where the vocab covers the words (train set)
    train_ids = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)],
        "doc_id long, text string",
    )
    via_vocab = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_token_counts(
            train_ids, "text", "doc_id", vocab=vocab
        ).collect()
    }
    via_merges = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_token_counts(
            train_ids, "text", "doc_id", merges=merges_df
        ).collect()
    }
    assert via_vocab == via_merges

    # segment_words on an unseen word replays the merges greedily
    seg = segment_words(
        spark.createDataFrame([("cabana",)], "w string"), merges_df
    ).collect()[0]["syms"]
    assert seg == encode("cabana")


def test_segment_words_thousand_merges_compiles_and_matches(spark):
    """A realistic tokenizer has thousands of merges: segment_words
    must COMPILE and run with a 1,000-merge table (the chained-fold
    expression tree is cut every fold_chunk merges — an uncut 1,000
    deep tree blows Janino/codegen limits) and equal the pure-Python
    greedy left-to-right reference replay."""
    import itertools
    import string

    from oups_spark.operators.bpe import segment_words

    letters = string.ascii_lowercase
    # 676 two-letter merges, then three-letter chain merges to 1,000:
    # enough real structure that long words genuinely fold many times
    pairs = list(itertools.product(letters, letters))
    pairs += [
        (a + b, c)
        for (a, b), c in itertools.product(
            itertools.product(letters[:5], letters[:5]), letters
        )
    ]
    merges = [(a, b) for a, b in pairs][:1000]
    assert len(merges) == 1000

    words = [
        "abcdefghij",
        "aaabacadae",
        "zzyzxzwzvz",
        "banana",
        "a",
        "qqqqqqqqqqqqqqqqqqqq",
    ]

    def encode(word):
        syms = list(word) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    # auto -> the merge-count-independent Arrow-batched engine
    got = {r["w"]: r["syms"] for r in segment_words(wdf, merges).collect()}
    exp = {w: encode(w) for w in words}
    assert got == exp
    # sanity: the merges really fired (no trivially-unmerged words)
    assert got["banana"] != list("banana") + ["</w>"]

    # the chunked-JVM fold (two localCheckpoint-cut chunks) agrees
    # with the python engine on the same prefix of the table — the
    # cross-engine equivalence check for the sequential-replay
    # contract
    got_jvm = {
        r["w"]: r["syms"]
        for r in segment_words(
            wdf, merges[:150], engine="jvm", fold_chunk=64
        ).collect()
    }
    got_py = {
        r["w"]: r["syms"]
        for r in segment_words(
            wdf, merges[:150], engine="python"
        ).collect()
    }
    assert got_jvm == got_py


def test_segment_words_dedupes_duplicate_merge_pairs(spark):
    """One contract for both engines (round-13 ADVICE, softened by
    round-14 ADVICE): the JVM chained fold would replay a duplicate
    pair at every listed rank while the python engine keeps only the
    first, so duplicates are DEDUPED to first-occurrence-wins (the
    historical python-engine behavior, preserving callers holding
    externally-produced merge tables) with a warning — identically on
    every engine, so engine='auto' cannot flip results at fold_chunk
    merges. bpe_train itself never emits a pair twice."""
    import pytest

    from oups_spark.operators.bpe import segment_words

    words = spark.createDataFrame([("abcd",)], "w string")
    dup = [("a", "b"), ("c", "d"), ("a", "b")]
    got = {}
    for eng in ("jvm", "python", "auto"):
        with pytest.warns(UserWarning, match="duplicate merge pairs"):
            got[eng] = segment_words(
                words, dup, engine=eng
            ).collect()[0]["syms"]
    # all engines agree with the deduped table's segmentation
    assert got["jvm"] == got["python"] == got["auto"]
    clean = segment_words(
        words, [("a", "b"), ("c", "d")], engine="python"
    ).collect()[0]["syms"]
    assert got["python"] == clean
    # unique tables still work on both engines, identically
    ok = [("a", "b"), ("ab", "c")]
    got_j = segment_words(words, ok, engine="jvm").collect()[0]["syms"]
    got_p = segment_words(words, ok, engine="python").collect()[0]["syms"]
    assert got_j == got_p == ["abc", "d", "</w>"]


def test_shingle_and_hash_arrays_have_no_null_elements(spark):
    """ADVICE r14: the explode_nonnull convention (explode_outer +
    isNotNull == plain explode) rests on the invariant that the
    shingle / hashed-shingle builders never emit a NULL array
    ELEMENT — only null/empty arrays (dropped by both forms). Pin it
    on edge inputs: empty text, whitespace, fewer tokens than n,
    repeated tokens, unicode."""
    import pyspark.sql.functions as F

    from oups_spark.operators.dedup import hashed_shingles
    from oups_spark.operators.text import shingles, tokens

    rows = [
        ("",), ("   ",), ("one",), ("one two",), ("one two three",),
        ("a a a a a",), ("ζ ξ λ μ ν",), ("x\ty\nz w v u",),
    ]
    df = spark.createDataFrame(rows, "text string")
    checked = df.select(
        shingles(tokens(F.col("text")), 3).alias("sh"),
        hashed_shingles(F.col("text"), 3).alias("hsh"),
    ).select(
        F.size(F.filter("sh", lambda e: e.isNull())).alias("n_null_sh"),
        F.size(F.filter("hsh", lambda e: e.isNull())).alias("n_null_hsh"),
    )
    for r in checked.collect():
        # size() is -1 for a NULL array (fine: both explode forms
        # drop it); a POSITIVE count means a null element leaked
        assert r["n_null_sh"] <= 0 and r["n_null_hsh"] <= 0
