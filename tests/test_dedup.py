"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Strategy: small hand-built corpora with known duplicate structure; MinHash
is validated against exact Jaccard (estimator property), SimHash against an
independent pure-Python reimplementation, LSH candidates against the
ground-truth near-dup pairs (recall on planted duplicates).
"""
from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import (
    exact_dedup,
    jaccard_near_duplicates,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    shingles,
    simhash_near_duplicates,
    with_simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the rain falls outside the old wooden house"
)
NEAR = BASE.replace("lazy dog", "lazy wolf")  # one-token change
FAR = "completely different text about spark query engines and columnar execution at scale"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR),          # near dup of 0
        (3, FAR),
        (4, "tiny doc"),    # shorter than shingle width
        (5, FAR + " with a small suffix change"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(corpus):
    out = {r["text_hash"]: r for r in exact_dedup(corpus).collect()}
    assert len(out) == 5  # 6 docs, one exact pair
    dup = [r for r in out.values() if r["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 0


def test_shingles_short_doc(corpus):
    rows = corpus.select("doc_id", shingles().alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in rows}
    assert by_id[4] == ["tiny doc"]  # < k tokens -> single full-join shingle
    assert all(len(s.split(" ")) == 3 for s in by_id[0])


def test_minhash_identical_docs_identical_signatures(corpus):
    sigs = {r["id"]: r["signature"] for r in minhash_signatures(corpus).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    assert all(len(s) == 16 for s in sigs.values())


def test_minhash_estimates_jaccard(spark):
    # two docs with known shingle overlap; estimator should be in range
    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"x{i}" for i in range(20)
    )
    df = spark.createDataFrame([(0, a), (1, b)], ["doc_id", "text"])
    sh = {r["doc_id"]: set(r["s"]) for r in df.select(
        "doc_id", shingles().alias("s")).collect()}
    true_j = len(sh[0] & sh[1]) / len(sh[0] | sh[1])
    sigs = {r["id"]: r["signature"] for r in
            minhash_signatures(df, n_hashes=64).collect()}
    est = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 64
    assert abs(est - true_j) < 0.25  # 64 hashes -> stderr ~0.06


def test_lsh_finds_planted_near_dups(corpus):
    # 8 bands of width 2: P(candidate) = 1-(1-j²)⁸ ≈ 0.9995 at the planted
    # pair's true jaccard ≈ 0.78 — an honest estimator needs an honest
    # banding config for near-certain recall (the degenerate h1+i·h2 family
    # this suite once had scored ANY shared-argmin pair 1.0, which made
    # weak bandings look falsely reliable)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            corpus, threshold=0.5, n_bands=8
        ).collect()
    }
    assert (0, 1) in pairs  # exact dup always survives
    assert (0, 2) in pairs  # one-token change -> high jaccard
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_lsh_candidates_contain_identical(corpus):
    sigs = minhash_signatures(corpus)
    cands = {
        (r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()
    }
    assert (0, 1) in cands


def test_jaccard_exact_values(corpus):
    rows = jaccard_near_duplicates(corpus, threshold=0.05).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert by_pair[(0, 1)] == 1.0
    assert 0.5 < by_pair[(0, 2)] < 1.0
    assert (0, 3) not in by_pair


def _simhash_ref(text: str) -> int:
    """Independent reference implementation (same public definition)."""
    import re

    toks = sorted(set(re.findall(r"[a-z]{3,}", text.lower())))
    votes = [0] * 64
    for t in toks:
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for b in range(64):
            votes[b] += 1 if (h >> (63 - b)) & 1 else -1
    v = 0
    for b in range(64):
        if votes[b] > 0:
            v |= 1 << (63 - b)
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_matches_reference_impl(corpus):
    got = {r["doc_id"]: r["simhash"] for r in with_simhash(corpus).collect()}
    for doc_id, text in [(0, BASE), (2, NEAR), (3, FAR), (4, "tiny doc")]:
        assert got[doc_id] == _simhash_ref(text), doc_id


def _brute_hamming_pairs(corpus, max_hamming):
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    sims = {i: _simhash_ref(t) for i, t in texts.items()}

    def ham(a, b):
        return bin((a & (1 << 64) - 1) ^ (b & (1 << 64) - 1)).count("1")

    return {
        (i, j): ham(sims[i], sims[j])
        for i in sims
        for j in sims
        if i < j and ham(sims[i], sims[j]) <= max_hamming
    }


def test_simhash_near_dup_block_lsh(corpus):
    hashed = with_simhash(corpus)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(hashed, max_hamming=16).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical docs -> distance 0
    # with n_blocks derived as max_hamming+1 the pigeonhole guarantee is
    # EXHAUSTIVE: the operator's pair set equals brute-force all-pairs
    assert pairs == _brute_hamming_pairs(corpus, 16)


def test_simhash_near_dup_exact_at_default(corpus):
    hashed = with_simhash(corpus)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(hashed, max_hamming=3).collect()
    }
    assert pairs == _brute_hamming_pairs(corpus, 3)


def test_simhash_near_dup_rejects_guarantee_breach(corpus):
    hashed = with_simhash(corpus)
    with pytest.raises(ValueError, match="max_hamming < n_blocks"):
        simhash_near_duplicates(hashed, max_hamming=16, n_blocks=4)
    with pytest.raises(ValueError):
        simhash_near_duplicates(hashed, max_hamming=64)  # 65 blocks > 64 bits


def test_simhash_blocks_cover_all_64_bits():
    from ocr_spark.operators.dedup import simhash_blocks

    for n in (4, 7, 17, 64):
        blocks = simhash_blocks(n)
        covered = sorted(
            bit for shift, width in blocks for bit in range(shift, shift + width)
        )
        assert covered == list(range(64)), n


def test_empty_and_null_texts(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "real content here")], ["doc_id", "text"]
    )
    sigs = {r["id"]: r["signature"] for r in minhash_signatures(df).collect()}
    assert sigs[0] == sigs[1]  # empty docs identical
    out = exact_dedup(df).collect()
    assert {r["n_copies"] for r in out} == {2, 1}


def test_decontaminate_drops_benchmark_overlaps(spark):
    from ocr_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, FAR)], ["doc_id", "text"]
    )
    kept = {r["id"] for r in decontaminate(train, bench).collect()}
    assert 0 not in kept  # identical to benchmark -> contaminated
    assert 1 not in kept  # shares most shingles -> contaminated
    assert 2 in kept
    audit = {
        r["id"]: r["n_overlap"]
        for r in decontaminate(train, bench, max_overlap=10**9).collect()
    }
    assert audit[0] > audit[1] > audit[2] == 0


def test_stratified_sample_deterministic_and_bounded(spark):
    from ocr_spark.operators.dedup import stratified_sample

    rows = [(i, f"t{i}", f"src{i % 2}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    quotas = {"src0": 30, "src1": 70}
    a = {r["doc_id"] for r in stratified_sample(df, quotas).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, quotas).collect()}
    assert a == b  # run-to-run identical (no RNG, no partition dependence)
    by_src = {"src0": 0, "src1": 0}
    for i in a:
        by_src[f"src{i % 2}"] += 1
    assert abs(by_src["src0"] / 1000 - 0.30) < 0.05
    assert abs(by_src["src1"] / 1000 - 0.70) < 0.05


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom variant's one-sided error: every exact-contaminated doc
    is flagged (keep set ⊆ exact keep set), and at the default 2¹⁶-bit /
    5-hash sizing the tiny fixture has no false positives either."""
    from ocr_spark.operators.dedup import bloom_decontaminate, decontaminate

    bench = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, FAR)], ["doc_id", "text"]
    )
    bloom_kept = {r["id"] for r in bloom_decontaminate(train, bench).collect()}
    exact_kept = {r["id"] for r in decontaminate(train, bench).collect()}
    assert bloom_kept <= exact_kept  # false positives only shrink the keep set
    assert bloom_kept == {2}

    # audit mode: bloom occurrence counts dominate the exact counts
    exact = {
        r["id"]: r["n_overlap"]
        for r in decontaminate(train, bench, max_overlap=10**9).collect()
    }
    bloom = {
        r["id"]: r["n_overlap"]
        for r in bloom_decontaminate(train, bench, max_overlap=10**9).collect()
    }
    assert set(bloom) == set(exact)
    assert all(bloom[i] >= exact[i] for i in exact)
    assert bloom[0] == exact[0] > 0  # true hits all present


def test_bloom_decontaminate_plan_is_narrow(spark):
    """The whole point of the Bloom shape: NO join node, no shuffle, no
    Python — the bitset rides in as a literal and the filter fuses into
    the scan's projection."""
    from ocr_spark.operators.dedup import bloom_decontaminate

    bench = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    train = spark.createDataFrame([(0, FAR)], ["doc_id", "text"])
    plan = (
        bloom_decontaminate(train, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Exchange" not in plan
    assert "Python" not in plan


def test_bloom_bitset_packing_and_validation(spark):
    from ocr_spark.operators.dedup import (
        _bloom_pos_py,
        build_bloom_bitset,
        bloom_decontaminate,
    )

    bench = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    words = build_bloom_bitset(bench)
    assert len(words) == (1 << 16) // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)  # signed longs
    assert any(w != 0 for w in words)
    assert 0 <= _bloom_pos_py(12345, 0, 1 << 16) < (1 << 16)
    with pytest.raises(ValueError):
        build_bloom_bitset(bench, m_bits=100)  # not a multiple of 64
    # empty benchmark: all-zero bitset, nothing flagged
    empty = bench.filter("doc_id < 0")
    train = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    assert bloom_decontaminate(train, empty).count() == 1


def test_mixture_thresholds_exact_math(spark):
    """Hand-computed thresholds: thr = min(10000, budget·w_bps div
    tokens(src)); a source under its target keeps everything; an
    unlisted source gets 0."""
    from ocr_spark.operators.curation import mixture_thresholds

    # src0: 4 docs x 5 tokens = 20; src1: 2 docs x 5 = 10; src2 unlisted
    five = "alpha bravo charlie delta echo"
    rows = [(i, five, "src0") for i in range(4)]
    rows += [(i + 10, five, "src1") for i in range(2)]
    rows += [(20, five, "src2")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    thr = {
        r["source"]: r
        for r in mixture_thresholds(
            df, {"src0": 5000, "src1": 5000}, budget_tokens=8
        ).collect()
    }
    # src0 target = 8*0.5 = 4 tokens of 20 -> thr = 8*5000 div 20 = 2000
    assert thr["src0"]["thr_bps"] == 2000
    assert thr["src0"]["total_tokens"] == 20
    # src1 target = 4 of 10 -> 4000
    assert thr["src1"]["thr_bps"] == 4000
    assert thr["src2"]["thr_bps"] == 0
    # budget >> corpus: capped at keep-everything
    thr_all = {
        r["source"]: r["thr_bps"]
        for r in mixture_thresholds(
            df, {"src0": 5000, "src1": 5000}, budget_tokens=10**6
        ).collect()
    }
    assert thr_all["src0"] == thr_all["src1"] == 10000
    with pytest.raises(ValueError):
        mixture_thresholds(df, {"src0": -1}, 10)
    with pytest.raises(ValueError):
        mixture_thresholds(df, {"src0": 10**10}, 10**10)


def test_mix_corpus_hits_token_targets(spark):
    """Sampling accuracy at 2000 docs: achieved kept tokens per source
    land within 10% of the target; the kept set is deterministic."""
    from ocr_spark.operators.curation import mix_corpus, mixture_summary

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
    rows = [
        (i, " ".join(words[: 3 + i % 4]), f"src{i % 2}") for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    budget = 4000
    weights = {"src0": 7000, "src1": 3000}  # 70/30 mix
    summary = {
        r["source"]: r
        for r in mixture_summary(df, weights, budget).collect()
    }
    for src, w in weights.items():
        target = budget * w / 10000
        got = summary[src]["kept_tokens"]
        assert abs(got - target) / target < 0.10, (src, got, target)
    a = {r["doc_id"] for r in mix_corpus(df, weights, budget).collect()}
    b = {r["doc_id"] for r in mix_corpus(df, weights, budget).collect()}
    assert a == b and len(a) == sum(s["kept_docs"] for s in summary.values())
    # mix keeps original columns (minus the internal threshold)
    cols = mix_corpus(df, weights, budget).columns
    assert set(cols) == {"doc_id", "text", "source"}


# ---------------------------------------------------------------------------
# Cluster resolution (pairs -> connected components -> keeper set).
# ---------------------------------------------------------------------------


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_connected_components_chain_and_islands(spark):
    from ocr_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation pass) + island 8-9
    comp = {
        r["id"]: r["cluster"]
        for r in connected_components(
            _pairs_df(spark, [(1, 2), (2, 3), (3, 4), (8, 9)])
        ).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_connected_components_skewed_star_cluster(spark):
    from ocr_spark.operators.dedup import connected_components

    # one 1000-member star (hub 0) — the hot-cluster skew shape; min-label
    # propagation resolves it without quadratic work or driver state
    star = [(0, i) for i in range(1, 1000)] + [(2000, 2001)]
    comp = {
        r["id"]: r["cluster"]
        for r in connected_components(_pairs_df(spark, star)).collect()
    }
    assert len(comp) == 1002
    assert all(comp[i] == 0 for i in range(1000))
    assert comp[2000] == comp[2001] == 2000


def test_connected_components_long_chain_pointer_jumping(spark):
    from ocr_spark.operators.dedup import connected_components

    # 1000-link path graph: diameter 1000 — plain neighbor propagation
    # would need ~1000 rounds; pointer jumping must resolve in O(log n)
    chain = [(i, i + 1) for i in range(1000)]
    comp = {
        r["id"]: r["cluster"]
        for r in connected_components(
            _pairs_df(spark, chain), max_iter=25
        ).collect()
    }
    assert len(comp) == 1001
    assert set(comp.values()) == {0}


def test_connected_components_string_ids(spark):
    """The convergence probe must be type-agnostic: string ids broke the
    old numeric-sum witness (NULL == NULL stopped the loop on pass 1)."""
    from ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    comp = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_empty_pairs(spark):
    from ocr_spark.operators.dedup import connected_components

    assert connected_components(_pairs_df(spark, [])).count() == 0


def test_resolve_clusters_keeper_semantics(spark, corpus):
    from ocr_spark.operators.dedup import resolve_clusters

    pairs = jaccard_near_duplicates(corpus, threshold=0.5)
    out = {r["id"]: (r["cluster"], r["keep"]) for r in
           resolve_clusters(pairs, corpus).collect()}
    assert len(out) == corpus.count()  # every doc assigned
    # docs 0/1 (exact dup) and 2 (near dup) form one cluster kept by min id 0
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)
    # singletons keep themselves
    assert out[4] == (4, True)


def test_dedup_corpus_materializes_keepers(spark, corpus):
    from ocr_spark.operators.dedup import dedup_corpus

    pairs = jaccard_near_duplicates(corpus, threshold=0.5)
    kept = dedup_corpus(pairs, corpus)
    assert set(kept.columns) == set(corpus.columns)  # all columns preserved
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids and 2 not in ids
    assert {3, 4}.issubset(ids)


# ---------------------------------------------------------------------------
# Hot-shingle / hot-bucket caps.
# ---------------------------------------------------------------------------


def test_jaccard_hot_shingle_cap_bounds_fanout(spark):
    # adversarial: 500 docs share one boilerplate shingle; distinct tails.
    # Uncapped, that shingle alone yields 500*499/2 ≈ 125k join rows; with
    # the cap the hot shingle leaves the universe and no pair survives.
    rows = [
        (i, f"shared boiler plate unique{i} tail{i} words{i} here{i}")
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = jaccard_near_duplicates(df, threshold=0.05, max_doc_freq=100)
    assert capped.count() == 0
    # sanity: uncapped DOES produce the quadratic pair set at low threshold
    uncapped = jaccard_near_duplicates(
        df.limit(50), threshold=0.05, max_doc_freq=None
    )
    assert uncapped.count() == 50 * 49 / 2


def test_jaccard_cap_noop_below_threshold(spark, corpus):
    # cap far above any doc frequency -> byte-identical to the exact path
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_near_duplicates(corpus, threshold=0.1).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_near_duplicates(
            corpus, threshold=0.1, max_doc_freq=1000
        ).collect()
    }
    assert exact == capped


def test_lsh_hot_bucket_cap(spark):
    # 300 identical docs collapse into one bucket per band; cap drops them
    rows = [(i, BASE) for i in range(300)] + [(1000, FAR), (1001, FAR)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=100).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1000, 1001) in got  # small bucket survives
    assert not any(a < 300 and b < 300 for a, b in got)  # hot bucket dropped
    # uncapped finds the identical docs
    full = lsh_candidate_pairs(sigs).where(F.col("id_a") < 300)
    assert full.count() == 300 * 299 / 2


def test_simhash_vectorized_matches_scalar_reference():
    """The numpy unpackbits/vote implementation must be bit-identical to
    the definitional per-bit scalar loop (the pre-vectorization shape)."""
    import hashlib
    import random

    import pandas as pd

    from ocr_spark.operators.dedup import _simhash64

    def scalar(toks):
        votes = [0] * 64
        for t in toks:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for b in range(64):
                votes[b] += 1 if (h >> (63 - b)) & 1 else -1
        v = 0
        for b in range(64):
            if votes[b] > 0:
                v |= 1 << (63 - b)
        return v - (1 << 64) if v >= (1 << 63) else v

    rng = random.Random(5)
    words = ["tok%d" % i for i in range(300)] + ["unicode-ş", "ña", "中文"]
    lists = [
        rng.sample(words, rng.randrange(0, 40)) for _ in range(200)
    ] + [[], None, ["a"]]
    got = _simhash64(pd.Series(lists, dtype="object"))
    for toks, v in zip(lists, got):
        assert v == scalar(toks or [])


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """A checkpoint directory set on the shared session for one test, and
    reset afterwards: left set, every later component test would
    silently switch to reliable checkpoints."""
    sc = spark.sparkContext
    old = sc._jsc.sc().getCheckpointDir()
    ckdir = tmp_path / "reliable_ck"
    sc.setCheckpointDir(str(ckdir))
    yield ckdir
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(old)


def test_connected_components_reliable_checkpoint_path(
    spark, session_checkpoint_dir
):
    """A session checkpoint directory (``spark.checkpoint.dir`` or
    ``setCheckpointDir``) swaps localCheckpoint for reliable
    checkpointing (cluster deployments where executor loss must not
    restart the loop) — same labels, and checkpoint files actually land
    in that directory."""
    from ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["cluster"]) for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert any(session_checkpoint_dir.rglob("*"))  # reliable files written


def test_connected_components_deletes_superseded_checkpoints(
    spark, session_checkpoint_dir
):
    """Under a session checkpoint directory, the pair materialization and
    every superseded label generation are deleted as the loop moves on:
    only the returned labels' checkpoint stays on disk."""
    from ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    labels = connected_components(pairs)
    kept = sorted(p for p in session_checkpoint_dir.rglob("rdd-*") if p.is_dir())
    own = labels._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
    assert [p.name for p in kept] == [own.get().rsplit("/", 1)[-1]]
    got = labels.collect()  # its own files are still there to read
    assert len(got) == 201 and {r["cluster"] for r in got} == {0}


def test_shared_session_has_no_checkpoint_dir(spark):
    """Runs after the reliable-checkpoint test: its fixture must leave
    the shared session on localCheckpoint."""
    assert spark.sparkContext.getCheckpointDir() is None


def test_minhash_family_positions_are_independent_permutations():
    """Regression for the degenerate h1 + i·h2 family: with i·h2 ≪ h1's
    spread, ONE element was the argmin of every position, collapsing all
    n hashes into a single effective permutation (unrelated docs sharing
    one rare shingle scored sig_sim = 1.0). The Carter-Wegman family must
    rank a random universe differently per position."""
    import random

    from ocr_spark.operators.dedup import MINHASH_P, minhash_coefficients

    coeffs = minhash_coefficients(16)
    rng = random.Random(3)
    hs = [rng.randrange(1 << 60) for _ in range(200)]
    argmins = {
        min(range(200), key=lambda j: (a * hs[j] + b) % MINHASH_P)
        for a, b in coeffs
    }
    # 16 independent permutations over 200 elements: essentially always
    # ≥ 12 distinct argmins; the degenerate family yields exactly 1
    assert len(argmins) >= 12
    # determinism and a ∈ [1, p-1]
    assert coeffs == minhash_coefficients(16)
    assert all(1 <= a < MINHASH_P and 0 <= b < MINHASH_P for a, b in coeffs)


def test_cw_mulmod_matches_python_ints():
    """The arrow engine's uint64 Mersenne mulmod must equal plain Python
    big-int (a·h + b) mod 2^61−1 across the full coefficient/hash ranges,
    including the boundary a = 2^60 the coefficient family can emit."""
    import random

    import numpy as np

    from ocr_spark.operators.dedup import MINHASH_P, _cw_mulmod

    rng = random.Random(99)
    cases = [(1 << 60, (1 << 60) - 1), (1, 0), ((1 << 60) - 1, 1 << 59)]
    cases += [
        (rng.randrange(1, (1 << 60) + 1), rng.randrange(0, 1 << 60))
        for _ in range(100)
    ]
    hs = np.array(
        [0, 1, (1 << 60) - 1] + [rng.randrange(0, 1 << 60) for _ in range(61)],
        dtype=np.uint64,
    )
    for a, b in cases:
        got = [int(x) for x in _cw_mulmod(a, b, hs)]
        assert got == [(a * int(h) + b) % MINHASH_P for h in hs], (a, b)


def _hof_signatures(df, n_hashes: int = 16, k: int = 3):
    """Reference MinHash signatures: the all-JVM higher-order fold — per
    shingle the 60-bit md5 base hash in decimal(20,0), then
    aggregate+zip_with of ``least`` over the exact decimal(38,0)
    Carter-Wegman values from an INIT-filled accumulator. ``least`` skips
    the NULL hash a NULL text yields, leaving INIT."""
    from ocr_spark.operators.dedup import (
        _MINHASH_INIT,
        MINHASH_P,
        minhash_coefficients,
        shingles_from_tokens,
    )
    from ocr_spark.operators.textstats import tokens

    per_shingle = F.transform(
        shingles_from_tokens(F.col("_mh_toks"), k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("decimal(20,0)"),
    )
    p = F.lit(MINHASH_P).cast("decimal(20,0)")
    sig = F.aggregate(
        per_shingle,
        F.array_repeat(F.lit(_MINHASH_INIT).cast("long"), n_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (
                        (F.lit(a).cast("decimal(20,0)") * h + F.lit(b)) % p
                    ).cast("long")
                    for a, b in minhash_coefficients(n_hashes)
                ]
            ),
            lambda x, y: F.least(x, y),
        ),
    )
    return df.select(
        F.col("doc_id").alias("id"), tokens("text").alias("_mh_toks")
    ).select("id", sig.alias("signature"))


def test_minhash_arrow_engine_matches_hof_bitwise(spark, corpus):
    """minhash_signatures (vectorized uint64 mulmod + reduceat) must
    reproduce the decimal(38,0) JVM fold (:func:`_hof_signatures`)
    signature arrays bit-for-bit, including the NULL-text INIT sentinel
    and the short-doc single-shingle fallback."""
    edge = spark.createDataFrame(
        [(100, None), (101, ""), (102, "ab cd"), (103, "onlyoneword")],
        "doc_id long, text string",
    )
    both = corpus.select("doc_id", "text").unionByName(edge)
    hof = {r["id"]: r["signature"] for r in _hof_signatures(both).collect()}
    arrow = {
        r["id"]: r["signature"] for r in minhash_signatures(both).collect()
    }
    assert arrow == hof
    assert hof[100] == [1 << 62] * 16  # NULL text -> untouched INIT


def test_winnow_near_dup_catches_partial_copy(spark):
    """Char-level partial copies (shared >= k+w-1-char substring runs)
    pair under winnow Jaccard even when word-shingle Jaccard is diluted;
    disjoint docs never pair."""
    from ocr_spark.operators.dedup import winnow_near_duplicates

    stolen = "entire paragraphs of this document were copied verbatim into another one"
    df = spark.createDataFrame(
        [
            (0, stolen + " with original framing around it"),
            (1, "different opening text then " + stolen + " and a new ending"),
            (2, "wholly unrelated content sharing no substrings of note at all"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in winnow_near_duplicates(df, threshold=0.1).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.3
    assert not any(2 in p for p in pairs)


def test_winnow_near_dup_explodes_outer(spark):
    """The explosion must be explode_outer: inner explode makes Catalyst
    infer a size>0 filter under the Generate, which (fused with the
    CodegenFallback winnow expression) re-evaluates the whole fingerprint
    array once per OUTPUT row — measured 200x slower. Pin the shape."""
    from ocr_spark.operators.dedup import winnow_near_duplicates

    df = spark.createDataFrame([(0, "abcdefghijklmnop")], ["doc_id", "text"])
    plan = (
        winnow_near_duplicates(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Generate prints as `Generate explode(winnow#N), [...], <outer>, [...]`
    # — the third field must be true (outer) for the winnow explosion
    winnow_gen = [
        ln for ln in plan.splitlines() if "Generate explode(winnow" in ln
    ]
    assert len(winnow_gen) == 1
    assert ", true, " in winnow_gen[0]


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a much larger one: containment ~1
    while Jaccard is diluted by the size gap — the asymmetric partial-dup
    test (Broder containment) web-corpus pipelines run beside resemblance."""
    from ocr_spark.operators.dedup import winnow_near_duplicates

    small = "this exact short passage appears verbatim inside the larger document"
    filler = " ".join(f"unrelated filler sentence number {chr(97 + i)} with more words" for i in range(30))
    df = spark.createDataFrame(
        [(0, small), (1, filler + " " + small + " " + filler[::-1])],
        ["doc_id", "text"],
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in winnow_near_duplicates(
            df, threshold=0.5, metric="containment"
        ).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in winnow_near_duplicates(df, threshold=0.0).collect()
    }
    assert cont[(0, 1)] > 0.8  # nearly all of doc0's windows survive in doc1
    assert jac[(0, 1)] < 0.3  # resemblance is diluted by the size gap
    with pytest.raises(ValueError):
        winnow_near_duplicates(df, metric="dice")


def test_classify_quality_agrees_with_heuristic_on_corpus(spark):
    """The shipped logistic model distills the with_quality heuristic: on
    in-distribution documents (the synthetic corpus it was trained
    against) its keep decision must agree with the heuristic-label rule
    on a solid majority (training accuracy was 0.81; demand ≥ 0.7 on the
    held-out sf0.001 tier). Hand-written English prose is deliberately
    NOT asserted — hashed-TF features are corpus-distribution-specific.
    Also: NULL text scores exactly round(bias, 6), and the plan stays
    narrow (no Exchange, no Python)."""
    from ocr_spark.operators.curation import classify_quality, load_quality_weights
    from tools.train_quality import _stopwords, heuristic_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    stops = frozenset(_stopwords())
    median = float(load_quality_weights()["label_rule"].split("(")[-1].rstrip(")"))
    labels = {i: heuristic_score(t, stops) >= median for i, t in texts.items()}
    keeps = {r["id"]: r["keep"] for r in classify_quality(docs).collect()}
    agree = sum(keeps[i] == labels[i] for i in labels) / len(labels)
    assert agree >= 0.7, agree
    assert 0.0 < sum(keeps.values()) / len(keeps) < 1.0  # not degenerate

    nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
    m = load_quality_weights()
    got = classify_quality(nulls).collect()[0]
    assert got["logit"] == round(float(m["bias"]), 6)

    q = classify_quality(docs)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_classify_quality_model_roundtrip():
    """Shipped weights are finite float64 with the dim the oracle SQL
    embeds; the training metadata documents provenance."""
    import math

    from ocr_spark.operators.curation import load_quality_weights

    m = load_quality_weights()
    assert len(m["weights"]) == m["dim"] > 0
    assert all(math.isfinite(x) for x in m["weights"] + [m["bias"]])
    assert "train_quality" in m.get("trained_on", "") or m["trained_on"]


def test_dsir_weight_matches_local_reference(spark):
    """Bit-equality (after the shared 4-dp rounding) with a direct Python
    transcription of the DSIR hashed-unigram importance weight."""
    import hashlib
    import math
    import re as _re

    from ocr_spark.operators.curation import with_dsir_weight

    B = 1 << 16

    def bkt(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    texts = {
        0: "wiki article about science and history topics",
        1: "wiki article about science and nature facts",
        2: "spam spam buy now cheap deals offer offer",
        3: "history nature deals and science",
    }
    target_ids = {0, 1}
    toks = {
        i: _re.findall("[a-z]{3,}", t.lower()) for i, t in texts.items()
    }
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for i, ts in toks.items():
        for t in ts:
            cr[bkt(t)] = cr.get(bkt(t), 0) + 1
            if i in target_ids:
                ct[bkt(t)] = ct.get(bkt(t), 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())

    def pyref(ts):
        return round(
            sum(
                math.log(ct.get(bkt(t), 0) + 1.0)
                - math.log(cr.get(bkt(t), 0) + 1.0)
                + math.log((nr + B) / (nt + B))
                for t in ts
            ),
            4,
        )

    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    target = df.filter(F.col("doc_id").isin([0, 1]))
    rows = {
        r["id"]: r for r in with_dsir_weight(df, target).collect()
    }
    for i, ts in toks.items():
        assert rows[i]["n_tokens"] == len(ts)
        assert rows[i]["log_weight"] == pyref(ts), i
    # directional sanity: target-like text outweighs off-target text
    assert rows[0]["log_weight"] > rows[2]["log_weight"]


def test_dsir_weight_validates(spark):
    import pytest as _pytest

    from ocr_spark.operators.curation import with_dsir_weight

    df = spark.createDataFrame([(0, "alpha bravo")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="n_buckets"):
        with_dsir_weight(df, df, n_buckets=0)


def test_cap_per_source_rank_and_ties(spark):
    """Keeps the n best per source by (rank desc, id asc); schema is
    unchanged; rank_col=None keeps the n smallest ids."""
    import pytest as _pytest

    from ocr_spark.operators.curation import cap_per_source

    rows = [
        # source, id, score — src_a has a tie at score 9 (ids 2 < 3)
        ("src_a", 1, 10),
        ("src_a", 2, 9),
        ("src_a", 3, 9),
        ("src_a", 4, 1),
        ("src_b", 5, 5),
    ]
    df = spark.createDataFrame(
        [(i, s, q) for s, i, q in rows], ["doc_id", "source", "score"]
    )
    kept = cap_per_source(df, 2, rank_col="score")
    assert kept.columns == ["doc_id", "source", "score"]
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [1, 2, 5]  # tie at 9 keeps id 2, drops id 3
    got_ids = sorted(
        r["doc_id"] for r in cap_per_source(df, 2).collect()
    )
    assert got_ids == [1, 2, 5]  # rank_col=None -> smallest ids
    with _pytest.raises(ValueError, match="n_per_source"):
        cap_per_source(df, 0)


# --- cross-source duplication matrix ----------------------------------------


def test_cross_source_dup_matrix(spark):
    from ocr_spark.operators.dedup import cross_source_dup_matrix

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.7), (4, 5, 0.95)],
        "id_a long, id_b long, jaccard double",
    )
    docs = spark.createDataFrame(
        [(1, "web"), (2, "books"), (3, "web"), (4, "code"), (5, "books")],
        "doc_id long, source string",
    )
    got = {
        (r["src_a"], r["src_b"]): r["n_pairs"]
        for r in cross_source_dup_matrix(pairs, docs).collect()
    }
    # canonical least/greatest ordering; diagonal = within-source dup
    assert got == {
        ("books", "web"): 2,   # (1,2) and (2,3)
        ("web", "web"): 1,     # (1,3)
        ("books", "code"): 1,  # (4,5)
    }


def test_cross_source_dup_matrix_order_invariant(spark):
    """Swapping a pair's endpoints never changes the matrix (the
    least/greatest canonicalization)."""
    from ocr_spark.operators.dedup import cross_source_dup_matrix

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string"
    )
    fwd = spark.createDataFrame([(1, 2, 0.9)], "id_a long, id_b long, jaccard double")
    rev = spark.createDataFrame([(2, 1, 0.9)], "id_a long, id_b long, jaccard double")
    a = cross_source_dup_matrix(fwd, docs).collect()
    b = cross_source_dup_matrix(rev, docs).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] == [("a", "b", 1)]


# ---------------------------------------------------------------------------
# incremental_near_duplicates (batch x corpus ingestion dedup)
# ---------------------------------------------------------------------------


def _shingle_set(text: str, k: int = 3) -> set:
    import re as _re

    t = _re.findall(r"[a-z]{3,}", text.lower())
    if len(t) >= k:
        return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}
    return {" ".join(t)}


def test_incremental_matches_bruteforce(spark):
    from ocr_spark.operators.dedup import incremental_near_duplicates

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated corpus text about spark windows merge"),
        (3, "another document with some shared quick brown fox content"),
    ]
    new_rows = [
        (101, "the quick brown fox jumps over the lazy dog today"),  # = doc 1
        (102, "brand new text nothing in common whatsoever here"),
        (103, "document with some shared quick brown fox content inside"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    got = {
        (r["id_new"], r["id_corpus"]): r["jaccard"]
        for r in incremental_near_duplicates(
            new, corpus, threshold=0.2
        ).collect()
    }
    expected = {}
    for nid, ntxt in new_rows:
        sn = _shingle_set(ntxt)
        for cid, ctxt in corpus_rows:
            sc = _shingle_set(ctxt)
            j = len(sn & sc) / len(sn | sc)
            if round(j, 6) >= 0.2:
                expected[(nid, cid)] = round(j, 6)
    assert got == expected
    assert (101, 1) in got and got[(101, 1)] == 1.0
    # within-batch twins are NOT emitted (101/103 vs each other)
    assert all(k[0] > 100 and k[1] < 100 for k in got)


def test_incremental_corpus_hot_cap(spark):
    from ocr_spark.operators.dedup import incremental_near_duplicates

    # one boilerplate sentence in EVERY corpus doc; cap = 2 removes its
    # shingles from the universe, so the batch doc only matches via the
    # non-boilerplate remainder
    boiler = "subscribe now for the best daily newsletter content"
    corpus_rows = [
        (i, f"{boiler} unique corpus text number variant {chr(97 + i)}yyy")
        for i in range(4)
    ]
    new_rows = [(100, f"{boiler} totally fresh payload words")]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    uncapped = incremental_near_duplicates(new, corpus, threshold=0.01)
    capped = incremental_near_duplicates(
        new, corpus, threshold=0.01, max_doc_freq=2
    )
    assert uncapped.count() == 4  # boilerplate links the batch to all
    assert capped.count() == 0  # cap removes the only shared shingles
    with pytest.raises(ValueError):
        incremental_near_duplicates(new, corpus, threshold=0.0)


def test_ngram_coverage_exact_fractions(spark):
    from ocr_spark.operators.dedup import ngram_coverage

    # k=3 grams (tokens are >=3-letter words per WORD_RE); train doc
    # repeats one eval doc's text verbatim
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # 3 grams
            (11, "xray yankee zulu whiskey"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),   # contained -> 3/3
            # first gram matches; the other three don't -> 1/4
            (1, "alpha beta gamma quebec romeo sierra"),
            (2, "papa quebec romeo"),                 # no match -> 0/1
        ],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: (r["n_grams"], r["n_matched"], r["coverage"])
        for r in ngram_coverage(train, evals, k=3).collect()
    }
    assert got[0] == (3, 3, 1.0)
    assert got[1] == (4, 1, 0.25)
    assert got[2] == (1, 0, 0.0)


def test_ngram_coverage_short_doc_single_shingle(spark):
    from ocr_spark.operators.dedup import ngram_coverage

    # under k tokens both sides fall back to the whole-doc shingle, so an
    # exact short dup scores 1.0 and a near-miss scores 0.0
    train = spark.createDataFrame([(10, "tiny doc")], ["doc_id", "text"])
    evals = spark.createDataFrame(
        [(0, "tiny doc"), (1, "tiny dog")], ["doc_id", "text"]
    )
    got = {
        r["id"]: r["coverage"]
        for r in ngram_coverage(train, evals, k=5).collect()
    }
    assert got == {0: 1.0, 1: 0.0}


def test_ngram_coverage_no_corpus_gram_shuffle(spark):
    from ocr_spark.operators.dedup import ngram_coverage

    train = spark.createDataFrame(
        [
            (i, f"word{i:03d} alpha beta gamma delta epsilon zeta")
            for i in range(30)
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    plan = (
        ngram_coverage(train, evals, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus side must reach its filter through a broadcast LEFT-SEMI
    # probe, never a sort-merge join or a corpus-gram exchange
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_recall_exact_dups_always_hit(spark):
    from ocr_spark.operators.dedup import lsh_recall

    # two exact duplicates (jaccard 1.0): equal signatures collide in
    # every band, so the pair MUST be a candidate at any config
    rows = [
        (0, BASE),
        (1, BASE),
        (2, FAR),
        (3, "another unrelated document about benchmark harness design"),
    ]
    out = lsh_recall(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        thresholds=(0.9,),
        n_hashes=8,
        n_bands=2,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_true_pairs"] == 1 and r["n_hits"] == 1
    assert r["recall"] == 1.0


def test_lsh_recall_invariants_on_partial_overlaps(spark):
    from ocr_spark.operators.dedup import lsh_recall

    # graded overlaps: truth counts must be monotone nonincreasing in the
    # threshold, hits bounded by truth AND candidates, ratios consistent
    rows = [(i, BASE) for i in range(3)] + [
        (10, NEAR),
        (11, BASE.replace("the", "a")),
        (12, FAR),
        (13, FAR + " with a small tail of extra words appended here"),
    ]
    out = lsh_recall(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        thresholds=(0.2, 0.5, 0.8),
        n_hashes=16,
        n_bands=4,
    ).collect()
    assert [r["threshold"] for r in out] == [0.2, 0.5, 0.8]
    trues = [r["n_true_pairs"] for r in out]
    assert trues == sorted(trues, reverse=True)
    for r in out:
        assert 0 <= r["n_hits"] <= r["n_true_pairs"]
        assert r["n_hits"] <= r["n_candidates"]
        if r["n_true_pairs"]:
            assert r["recall"] == round(r["n_hits"] / r["n_true_pairs"], 4)
        assert r["n_candidates"] == out[0]["n_candidates"]


def test_lsh_recall_validates(spark):
    from ocr_spark.operators.dedup import lsh_recall

    df = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    with pytest.raises(ValueError):
        lsh_recall(df, thresholds=())
    with pytest.raises(ValueError):
        lsh_recall(df, thresholds=(0.0, 0.5))
    with pytest.raises(ValueError):
        lsh_recall(df, thresholds=(0.5,), truth_threshold=0.7)


class TestNgramNovelty:
    """X54: per-doc n-gram novelty (first-occurrence marginal contribution)."""

    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_duplicate_scores_zero(self, spark):
        from ocr_spark.operators.dedup import ngram_novelty

        texts = [
            "the quick brown fox jumps over the lazy dog tonight",
            "the quick brown fox jumps over the lazy dog tonight",
            "completely different words appear in this final sentence here",
        ]
        out = {r["doc_id"]: r for r in ngram_novelty(self._docs(spark, texts)).collect()}
        assert out[0]["novelty"] == 1.0
        assert out[1]["novelty"] == 0.0
        assert out[1]["n_grams"] == out[0]["n_grams"]
        assert out[2]["novelty"] == 1.0

    def test_matches_python_reference(self, spark):
        import random as _r
        import hashlib

        import re

        rng = _r.Random(54)
        vocab = ["".join(rng.choice("abcdefghij") for _ in range(rng.randrange(3, 8)))
                 for _ in range(30)]
        texts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 25)))
                 for _ in range(60)]

        def ref():
            def grams(t):
                toks = re.findall(r"[a-z]{3,}", t.lower())
                if len(toks) >= 3:
                    gs = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
                else:
                    gs = {" ".join(toks)}
                return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                        for g in gs}

            per = [grams(t) for t in texts]
            first: dict = {}
            for i, gs in enumerate(per):
                for g in sorted(gs):
                    first.setdefault(g, i)
            out = {}
            for i, gs in enumerate(per):
                n_novel = sum(1 for g in gs if first[g] == i)
                nov = round(n_novel / len(gs), 4) if gs else None
                out[i] = (len(gs), n_novel, nov)
            return out

        from ocr_spark.operators.dedup import ngram_novelty

        got = {r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
               for r in ngram_novelty(self._docs(spark, texts)).collect()}
        assert got == ref()

    def test_null_text_reports_null_novelty(self, spark):
        from ocr_spark.operators.dedup import ngram_novelty

        df = spark.createDataFrame(
            [(0, "alpha beta gamma delta"), (1, None)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in ngram_novelty(df).collect()}
        assert out[1]["n_grams"] == 0 and out[1]["n_novel"] == 0
        assert out[1]["novelty"] is None
        assert out[0]["novelty"] == 1.0

    def test_short_doc_single_shingle(self, spark):
        from ocr_spark.operators.dedup import ngram_novelty

        out = {r["doc_id"]: r for r in ngram_novelty(
            self._docs(spark, ["only two", "only two"])).collect()}
        assert out[0]["n_grams"] == 1 and out[0]["novelty"] == 1.0
        assert out[1]["n_grams"] == 1 and out[1]["novelty"] == 0.0

    def test_partitioning_invariance(self, spark):
        import random as _r

        rng = _r.Random(7)
        vocab = ["".join(rng.choice("klmnopqrs") for _ in range(4))
                 for _ in range(20)]
        texts = [" ".join(rng.choice(vocab) for _ in range(15)) for _ in range(80)]
        from ocr_spark.operators.dedup import ngram_novelty

        df = self._docs(spark, texts)
        base = sorted(map(tuple, ngram_novelty(df).collect()))
        rep = sorted(map(tuple, ngram_novelty(df.repartition(13)).collect()))
        assert rep == base

    def test_k_validation(self, spark):
        from ocr_spark.operators.dedup import ngram_novelty

        with pytest.raises(ValueError, match="k"):
            ngram_novelty(self._docs(spark, ["a b c"]), k=0)


class TestNormalizedDedup:
    """X55: normalized exact dedup (canonical-form duplicate classes)."""

    def test_case_and_punctuation_variants_merge(self, spark):
        from ocr_spark.operators.dedup import normalized_dedup

        df = spark.createDataFrame(
            [
                (0, "Hello, World!  This is FINE."),
                (1, "hello world this is fine"),
                (2, "HELLO -- world ... this\tis\nfine"),
                (3, "a genuinely different document"),
            ],
            "doc_id long, text string",
        )
        out = sorted(normalized_dedup(df).collect(), key=lambda r: r["keep_id"])
        assert len(out) == 2
        merged = out[0]
        assert merged["keep_id"] == 0
        assert merged["n_copies"] == 3
        assert merged["n_exact"] == 3  # three distinct raw texts
        assert out[1]["n_copies"] == 1 and out[1]["n_exact"] == 1

    def test_byte_dups_counted_within_one_raw_class(self, spark):
        from ocr_spark.operators.dedup import normalized_dedup

        df = spark.createDataFrame(
            [(0, "same text"), (1, "same text"), (2, "Same, Text")],
            "doc_id long, text string",
        )
        out = normalized_dedup(df).collect()
        assert len(out) == 1
        r = out[0]
        assert r["keep_id"] == 0 and r["n_copies"] == 3 and r["n_exact"] == 2

    def test_agrees_with_exact_dedup_when_no_normal_variants(self, spark):
        from ocr_spark.operators.dedup import exact_dedup, normalized_dedup

        df = spark.createDataFrame(
            [(i, f"doc number {i} body") for i in range(20)]
            + [(100, "doc number 3 body")],
            "doc_id long, text string",
        )
        nd = {(r["keep_id"], r["n_copies"]) for r in normalized_dedup(df).collect()}
        ed = {(r["keep_id"], r["n_copies"]) for r in exact_dedup(df).collect()}
        assert nd == ed

    def test_partitioning_invariance(self, spark):
        from ocr_spark.operators.dedup import normalized_dedup

        rows = [(i, f"Body {i % 7}!") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        base = sorted(map(tuple, normalized_dedup(df).collect()))
        rep = sorted(map(tuple, normalized_dedup(df.repartition(11)).collect()))
        assert rep == base
