"""Text-analysis operator tests (token stats, lang-ID, quality, fingerprint)."""
from __future__ import annotations

import pytest

from ocr_spark.operators.textstats import (
    with_fingerprint,
    with_lang_id,
    with_quality,
    with_token_stats,
)

EN = "the quick brown fox is one of the animals that can jump over all of them"
ID = "dokumen ini adalah salah satu dari arsip yang akan diperiksa dengan teliti"
MIXED = "zz qq xx"  # no stopword evidence


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, EN), (1, ID), (2, MIXED), (3, "")], ["doc_id", "text"]
    )


def test_token_stats(docs):
    rows = {r["doc_id"]: r for r in with_token_stats(docs).collect()}
    assert rows[0]["n_tokens"] == len(
        [w for w in EN.split() if len(w) >= 3]
    )
    assert rows[0]["n_ws_tokens"] == len(EN.split())
    assert rows[0]["n_bpe_est"] == -(-len(EN) // 4)
    assert rows[3]["n_tokens"] == 0


def test_lang_id(docs):
    rows = {r["doc_id"]: r for r in with_lang_id(docs).collect()}
    assert rows[0]["lang_pred"] == "en" and rows[0]["en_hits"] > 0
    assert rows[1]["lang_pred"] == "id" and rows[1]["id_hits"] > 0
    assert rows[2]["lang_pred"] == "und"
    assert rows[3]["lang_pred"] == "und"


def test_quality_bounds_and_monotonicity(docs):
    rows = {r["doc_id"]: r for r in with_quality(docs).collect()}
    for r in rows.values():
        assert 0 <= r["quality_score"] <= 100
        for c in ("alpha_ratio", "punct_ratio", "stop_ratio"):
            assert 0.0 <= r[c] <= 1.0
    # stopword-rich English prose beats letter salad
    assert rows[0]["quality_score"] > rows[2]["quality_score"]
    assert rows[3]["quality_score"] == 0


def test_bpe_train_deterministic_and_exact():
    from ocr_spark.functions.bpe import BPE, train_bpe

    corpus = ["low lower lowest", "low lower", "newer newest new"] * 3
    m1, m2 = train_bpe(corpus, 30), train_bpe(corpus, 30)
    assert m1 == m2  # deterministic incl. tie-breaks
    bpe = BPE(m1)
    # counting invariants rather than hand-derived merges: encode/count
    # agree, the empty/None cases are 0, and merges actually compress
    assert bpe.count("") == 0 and bpe.count(None) == 0
    assert bpe.count("low") == len(bpe.encode("low"))
    assert bpe.count("low low") == 2 * bpe.count("low")
    assert bpe.count("lower") < len("lower") + 1  # merged below char count
    # round-trip through the serialized table
    assert BPE.loads(bpe.dumps()).count("lowest newer") == bpe.count(
        "lowest newer"
    )
    # merges whose first symbol is '#' must survive the round-trip
    hashy = BPE(train_bpe(["#include #include #include stdio"] * 4, 20))
    assert any(a.startswith("#") for a, _ in hashy.merges)
    assert BPE.loads(hashy.dumps()).count("#include") == hashy.count("#include")
    # unseen characters fall back to char-level (+ EOW), never fail
    assert bpe.count("日本") == 3


def test_bpe_vendored_table_pins_exact_counts():
    """Exact counts on fixed inputs against the committed merges table —
    regenerating the table (tools/train_bpe.py) on different data breaks
    this on purpose."""
    from ocr_spark.functions.bpe import vendored

    enc = vendored()
    assert len(enc.merges) == 106
    # corpus words compress well; unseen words degrade toward char-level
    assert enc.count("key agg row scan") == 4
    assert enc.count("table value part hash") <= 8
    zz = enc.count("zzz")
    assert zz == 4  # 3 chars + EOW, no merges apply


def test_bpe_spark_operator_matches_local(spark):
    from ocr_spark.functions.bpe import vendored
    from ocr_spark.operators.textstats import with_bpe_token_counts

    texts = [
        "key agg row scan slow fast",
        "completely unseen wording here",
        "",
        None,
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_bpe"] for r in with_bpe_token_counts(df).collect()}
    enc = vendored()
    assert got == {i: enc.count(t) for i, t in enumerate(texts)}
    plan = with_bpe_token_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "Exchange" not in plan


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [
            (0, "Hello,   World! How are you?"),
            (1, "hello world how are you"),  # same content mod case/punct/ws
            (2, "hello world how are they"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]


def test_approx_distinct_within_tolerance(spark):
    """a12_approx_distinct (HLL++ at rsd=0.02) stays within 5·rsd of the
    exact two-stage distinct on every group — the documented error band
    for the 100-TB rendition (the exact variant remains the oracle)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    exact = {
        r["event_type"]: r["n_users"]
        for r in e.extra_queries()["a12_distinct_users"](spark, sf).collect()
    }
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in e.extra_queries()["a12_approx_distinct"](spark, sf).collect()
    }
    assert exact.keys() == approx.keys()
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(2, 5 * 0.02 * n), (t, n, approx[t])


def test_repetition_stats_known_values(spark):
    """Hand-checked Gopher signals on planted inputs."""
    from ocr_spark.operators.textstats import with_repetition_stats

    df = spark.createDataFrame(
        [
            # 4 lines, 'same line' repeated twice: dup_line_frac = 1-3/4
            (0, "same line\nsame line\nother one\nfinal"),
            # "spam and eggs" 2-gram "spam and" repeats 3x in 9 tokens;
            (1, "spam and eggs spam and ham spam and toast"),
            (2, ""),  # empty: line fracs defined, gram fracs NULL
            (3, "one two"),  # 2 tokens: top2 defined, dup5 NULL
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert rows[0]["dup_line_frac"] == pytest.approx(0.25)
    # repeated chars: one extra copy of 'same line' (9 chars) of 9+9+9+5
    assert rows[0]["dup_line_char_frac"] == pytest.approx(round(9 / 32, 6))
    # top 2-gram 'spam and' (8 chars) x3 over 41 text chars
    assert rows[1]["top2gram_char_frac"] == pytest.approx(round(24 / 41, 6))
    assert rows[1]["dup5gram_char_frac"] == 0.0  # >=5 tokens, no dup 5-gram
    assert rows[2]["top2gram_char_frac"] is None
    assert rows[2]["dup_line_frac"] == 0.0  # one (empty) line, no dups
    assert rows[3]["dup5gram_char_frac"] is None
    assert rows[3]["top2gram_char_frac"] is not None


def test_repetition_top_gram_tie_breaks_lexicographically(spark):
    from ocr_spark.operators.textstats import with_repetition_stats

    # 'bbb ccc' and 'aaa bbb' each occur once; smallest gram must win
    df = spark.createDataFrame([(0, "aaa bbb ccc")], "doc_id long, text string")
    (r,) = with_repetition_stats(df).collect()
    # best run = 1, bestg = 'aaa bbb' (7 chars) over 11 text chars
    assert r["top2gram_char_frac"] == pytest.approx(round(7 / 11, 6))


def test_unigram_nll_matches_python_reference(spark):
    """Exact add-1 unigram NLL vs a driver-side reference on a tiny
    corpus (self-scored)."""
    import math
    from collections import Counter

    from ocr_spark.operators.textstats import with_unigram_nll

    texts = {
        0: "the cat sat on the mat",
        1: "the dog ate the cat",
        2: "rare words appear here",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r["id"]: r for r in with_unigram_nll(df).collect()}

    def toks(s):
        import re

        return re.findall(r"[a-z]{3,}", s.lower())

    counts = Counter(t for s in texts.values() for t in toks(s))
    n, v = sum(counts.values()), len(counts)
    for did, s in texts.items():
        ts = toks(s)
        want = -sum(
            math.log((counts[t] + 1.0) / (n + v)) for t in ts
        ) / len(ts)
        assert got[did]["n_scored_tokens"] == len(ts)
        assert got[did]["avg_nll"] == pytest.approx(round(want, 4))
    # boilerplate-heavy docs score LOWER nll than rare-word docs
    assert got[0]["avg_nll"] < got[2]["avg_nll"]


def test_repetition_and_nll_stay_narrow(spark):
    """Plan shape: repetition is pure JVM expressions with no shuffle;
    the LM join broadcasts the counts table."""
    from ocr_spark.operators.textstats import (
        with_repetition_stats,
        with_unigram_nll,
    )

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        with_repetition_stats(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
    plan2 = (
        with_unigram_nll(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan2 and "Python" not in plan2


def test_source_stats_dup_rate_and_quality(spark):
    from ocr_spark.operators.textstats import source_stats

    base = "the quick brown fox is one of the animals that can jump far"
    df = spark.createDataFrame(
        [
            # src_a: 3 docs, two of which are formatting variants of the
            # same content (fingerprint collision intended)
            (0, base, "src_a"),
            (1, "The  quick brown fox, is one of the animals that can jump far!", "src_a"),
            (2, "another document entirely about something else here", "src_a"),
            # src_b: 2 distinct docs
            (3, "dokumen ini adalah salah satu dari arsip yang akan", "src_b"),
            (4, "zz qq xx", "src_b"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {r["source"]: r for r in source_stats(df).collect()}
    a, b = rows["src_a"], rows["src_b"]
    assert (a["n_docs"], a["n_unique"]) == (3, 2)
    assert a["dup_rate"] == round(1 - 2 / 3, 4)
    assert (b["n_docs"], b["n_unique"], b["dup_rate"]) == (2, 2, 0.0)
    for r in (a, b):
        assert 0 <= r["min_quality"] <= r["avg_quality"] <= r["max_quality"] <= 100


def test_winnow_matches_local_reference(spark):
    """Bit-equality with a direct Python transcription of the SIGMOD'03
    winnowing scheme, including the short-document edges."""
    import hashlib
    import re as _re

    from ocr_spark.operators.textstats import with_winnow_fingerprints

    def pyref(text, k=8, w=4):
        t = _re.sub("[^a-z0-9]", "", text.lower())
        if len(t) < k:
            return []
        hs = [
            int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(t) - k + 1)
        ]
        if len(hs) < w:
            return []
        return sorted({min(hs[j : j + w]) for j in range(len(hs) - w + 1)})

    texts = [
        "The quick brown fox jumps over the lazy dog!",
        "short",
        "",
        "aaaaaaaaaaaaaaaa",  # degenerate: every gram identical
        "abcdefghij",  # 3 grams < w windows -> empty
        "punct-only ...!!! 123 mixed",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r["winnow"]
        for r in with_winnow_fingerprints(df).collect()
    }
    for i, t in enumerate(texts):
        assert rows[i] == pyref(t), (i, t)


def test_winnow_shared_substring_guarantee(spark):
    """The winnowing guarantee: a shared normalized substring of length
    >= k+w-1 produces at least one shared fingerprint — and a full-prefix
    copy keeps the whole prefix's set."""
    from ocr_spark.operators.textstats import with_winnow_fingerprints

    base = "The quick brown fox jumps over the lazy dog!"
    df = spark.createDataFrame(
        [
            (0, base),
            (1, base + " plus an appended unrelated continuation text"),
            (2, "completely different content with zero gram overlap"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: set(r["winnow"])
        for r in with_winnow_fingerprints(df).collect()
    }
    assert rows[0] <= rows[1]  # prefix copy: every window of doc0 survives
    assert not (rows[0] & rows[2])


def test_winnow_is_narrow_and_validates(spark):
    from ocr_spark.operators.textstats import with_winnow_fingerprints

    df = spark.createDataFrame([(0, "x" * 40)], ["doc_id", "text"])
    plan = with_winnow_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan
    with pytest.raises(ValueError):
        with_winnow_fingerprints(df, w=0)


def test_bigram_nll_matches_python_reference(spark):
    """Interpolated add-1 bigram NLL vs a driver-side reference on a tiny
    corpus (self-scored): p = 0.75·p_bi + 0.25·p_uni with the context
    count c_ctx(prev) = Σ_cur c(prev, cur)."""
    import math
    import re
    from collections import Counter

    from ocr_spark.operators.textstats import with_bigram_nll

    texts = {
        0: "the cat sat on the mat",
        1: "the dog ate the cat",
        2: "rare words appear here",
        3: "one",          # < 2 tokens -> drops out of the output
        4: "tiny doc",     # 'doc' < 3 letters -> 1 token -> drops out
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r["id"]: r for r in with_bigram_nll(df).collect()}

    def toks(s):
        return re.findall(r"[a-z]{3,}", s.lower())

    uni = Counter(t for s in texts.values() for t in toks(s))
    n, v = sum(uni.values()), len(uni)
    bi = Counter(
        bg
        for s in texts.values()
        for bg in zip(toks(s)[:-1], toks(s)[1:])
    )
    ctx = Counter()
    for (p, _c), cnt in bi.items():
        ctx[p] += cnt
    expect_ids = {did for did, s in texts.items() if len(toks(s)) >= 2}
    assert set(got) == expect_ids
    for did in expect_ids:
        ts = toks(texts[did])
        bgs = list(zip(ts[:-1], ts[1:]))
        want = -sum(
            math.log(
                0.75 * ((bi[bg] + 1.0) / (ctx[bg[0]] + 1.0 * v))
                + 0.25 * ((uni[bg[1]] + 1.0) / (n + 1.0 * v))
            )
            for bg in bgs
        ) / len(bgs)
        assert got[did]["n_scored_bigrams"] == len(bgs)
        assert got[did]["avg_nll"] == pytest.approx(round(want, 4))
    # repeated-bigram docs score LOWER nll than all-rare-bigram docs
    assert got[0]["avg_nll"] < got[2]["avg_nll"]


def test_bigram_nll_plan_broadcasts_counts(spark):
    from ocr_spark.operators.textstats import with_bigram_nll

    df = spark.createDataFrame(
        [(0, "alpha beta gamma")], "doc_id long, text string"
    )
    plan = (
        with_bigram_nll(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "Python" not in plan
    assert "SortMergeJoin" not in plan


def test_bigram_nll_held_out_counts_coalesce_to_smoothing(spark):
    """Unseen bigrams under a held-out counts table fall back to pure
    smoothing mass — no NULL poisoning, every position still scored."""
    import math

    from ocr_spark.operators.textstats import bigram_counts, with_bigram_nll

    train = spark.createDataFrame(
        [(0, "the cat sat")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, "dog ate homework")], "doc_id long, text string"
    )
    counts = bigram_counts(train)
    rows = with_bigram_nll(score, counts=counts).collect()
    # V and N come from the SCORED corpus's unigram table (self uni model)
    assert len(rows) == 1 and rows[0]["n_scored_bigrams"] == 2
    # every smoothed probability is finite and positive
    assert rows[0]["avg_nll"] > 0 and math.isfinite(rows[0]["avg_nll"])


def test_pmi_collocations_match_python_reference(spark):
    """Top-k PMI collocations vs a driver-side reference: same rounded
    score, same min_count floor, same (pmi desc, prev, cur) order."""
    import math
    import re
    from collections import Counter

    from ocr_spark.operators.textstats import pmi_collocations

    texts = [
        "hong kong hong kong hong kong hong kong",
        "new york and new york and new york",
        "the cat sat near the dog and the cat ran",
        "kong new york hong dog cat near ran and the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def toks(s):
        return re.findall(r"[a-z]{3,}", s.lower())

    uni = Counter(t for s in texts for t in toks(s))
    n = sum(uni.values())
    bi = Counter(
        bg for s in texts for bg in zip(toks(s)[:-1], toks(s)[1:])
    )
    want = sorted(
        (
            (
                round(math.log((c * float(n)) / (uni[a] * float(uni[b]))), 4),
                a,
                b,
                c,
            )
            for (a, b), c in bi.items()
            if c >= 2
        ),
        key=lambda r: (-r[0], r[1], r[2]),
    )[:5]
    got = [
        (r["pmi"], r["prev"], r["cur"], r["cnt"])
        for r in pmi_collocations(df, min_count=2, k=5).collect()
    ]
    assert got == want
    # the repeated collocation outscores the generic pair
    assert got[0][1:3] in {("hong", "kong"), ("kong", "hong"),
                           ("new", "york"), ("york", "and")}


def test_pmi_min_count_floor_and_validation(spark):
    from ocr_spark.operators.textstats import pmi_collocations

    df = spark.createDataFrame(
        [(0, "alpha beta alpha beta gamma delta")],
        "doc_id long, text string",
    )
    rows = pmi_collocations(df, min_count=2, k=10).collect()
    assert [(r["prev"], r["cur"]) for r in rows] == [("alpha", "beta")]
    assert rows[0]["cnt"] == 2
    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(df, min_count=0)
    with pytest.raises(ValueError, match="k"):
        pmi_collocations(df, k=0)


def test_pmi_topk_is_partial_topk_not_full_sort(spark):
    """The global top-k must plan as TakeOrderedAndProject (per-partition
    partial top-k), never a full Sort+Exchange over the scored set."""
    from ocr_spark.operators.textstats import pmi_collocations

    df = spark.createDataFrame(
        [(0, "alpha beta alpha beta")], "doc_id long, text string"
    )
    plan = (
        pmi_collocations(df, min_count=1, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_source_kl_matches_python_reference(spark):
    """Per-source KL vs a driver-side reference; Gibbs: KL >= 0, and a
    source matching the corpus mix scores lower than a skewed one."""
    import math
    import re
    from collections import Counter

    from ocr_spark.operators.textstats import source_kl_divergence

    docs = [
        ("web", "the cat sat on the mat and the dog ran"),
        ("web", "cat and dog and cat near the mat"),
        ("code", "def foo return foo def bar return bar return return"),
        ("mix", "the cat def foo dog return mat bar"),
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    got = {r["source"]: r for r in source_kl_divergence(df).collect()}

    def toks(s):
        return re.findall(r"[a-z]{3,}", s.lower())

    per_src = {}
    for src, t in docs:
        per_src.setdefault(src, Counter()).update(toks(t))
    corpus = Counter()
    for c in per_src.values():
        corpus.update(c)
    n = sum(corpus.values())
    for src, c in per_src.items():
        ns = sum(c.values())
        kl = sum(
            (cst / ns) * math.log((cst / ns) / (corpus[t] / n))
            for t, cst in c.items()
        )
        assert got[src]["n_tokens"] == ns
        assert got[src]["n_types"] == len(c)
        assert got[src]["kl_divergence"] == pytest.approx(round(kl, 4))
        assert got[src]["kl_divergence"] >= 0.0
    # the blended source is closer to the corpus than the skewed one
    assert got["mix"]["kl_divergence"] < got["code"]["kl_divergence"]


def test_source_kl_single_source_is_zero(spark):
    from ocr_spark.operators.textstats import source_kl_divergence

    df = spark.createDataFrame(
        [("only", "alpha beta gamma alpha")], "source string, text string"
    )
    rows = source_kl_divergence(df).collect()
    assert len(rows) == 1
    assert rows[0]["kl_divergence"] == 0.0


# --- Flesch reading ease ----------------------------------------------------


def _flesch_ref(t):
    import re as _re

    if t is None:
        return (0, 1, 0, None)
    ws = _re.findall("[a-z]+", t.lower())
    n_w = len(ws)
    n_s = max(1, len(_re.findall(r"[.!?]+", t)))
    n_sy = sum(max(1, len(_re.findall("[aeiouy]+", w))) for w in ws)
    fre = (
        206.835 - 1.015 * (n_w / n_s) - 84.6 * (n_sy / n_w)
        if n_w
        else None
    )
    return (n_w, n_s, n_sy, fre)


def test_flesch_matches_python_reference(spark):
    from ocr_spark.operators.textstats import with_flesch

    docs = [
        (0, "The cat sat on the mat. It was a simple day!"),
        (1, "Incomprehensibilities notwithstanding, psychophysiological "
            "manifestations materialized unceremoniously."),
        (2, "no terminal punctuation at all in this run on line"),
        (3, "Wow!!! Three??? Runs... of punct"),
        (4, ""),
        (5, None),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        r["doc_id"]: (
            r["n_words"],
            r["n_sentences"],
            r["n_syllables"],
            r["flesch"],
        )
        for r in with_flesch(sdf).collect()
    }
    for i, t in docs:
        # the score is ONE fixed-order IEEE expression over exact integer
        # counts — Python replays it bit-for-bit, so == not approx
        assert rows[i] == _flesch_ref(t), f"doc {i}"
    # long-word doc reads much harder than the simple one
    assert rows[1][3] < rows[0][3]


def test_flesch_plan_is_narrow(spark):
    from ocr_spark.operators.textstats import with_flesch

    sdf = spark.createDataFrame([(1, "A b c.")], "doc_id long, text string")
    plan = with_flesch(sdf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


# --- lexical diversity ------------------------------------------------------


def _lexdiv_ref(docs):
    import math
    import re as _re
    from collections import Counter

    by_src: dict = {}
    for src, t in docs:
        by_src.setdefault(src, Counter()).update(
            _re.findall("[a-z]{3,}", (t or "").lower())
        )
    out = {}
    for src, cnt in by_src.items():
        if not cnt:
            continue
        nt = sum(cnt.values())
        ty = len(cnt)
        hx = sum(1 for c in cnt.values() if c == 1)
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        xs = [math.log(r) for r in range(1, ty + 1)]
        ys = [math.log(c) for _, c in ranked]
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        denom = ty * sxx - sx * sx
        slope = 0.0 if denom == 0 else (ty * sxy - sx * sy) / denom
        out[src] = (
            nt,
            ty,
            round(ty / nt, 4),
            round(hx / ty, 4),
            round(slope, 4),
        )
    return out


def test_lexical_diversity_matches_python_reference(spark):
    from ocr_spark.operators.textstats import lexical_diversity

    docs = [
        ("a", "the cat cat cat sat sat mat river river river river run"),
        ("a", "cat and mat and river again plus some fresh words here"),
        ("b", "unique words only appear once each time forever"),
        ("c", "solo solo solo solo"),  # single type -> slope 0.0
    ]
    sdf = spark.createDataFrame(docs, "source string, text string")
    rows = {
        r["source"]: (
            r["n_tokens"],
            r["n_types"],
            r["ttr"],
            r["hapax_ratio"],
            r["zipf_slope"],
        )
        for r in lexical_diversity(sdf).collect()
    }
    ref = _lexdiv_ref(docs)
    assert set(rows) == set(ref)
    for src in ref:
        assert rows[src][:2] == ref[src][:2], src
        # exact-integer divisions match exactly; the slope's double sums
        # are order-dependent, so compare at the 4-dp contract
        assert rows[src][2] == ref[src][2], src
        assert rows[src][3] == ref[src][3], src
        assert abs(rows[src][4] - ref[src][4]) <= 1e-4, src
    assert rows["c"][4] == 0.0
    # natural-ish text has a negative Zipf slope
    assert rows["a"][4] < 0


# --- char entropy -----------------------------------------------------------


def _entropy_ref(t):
    import math
    from collections import Counter

    if not t:
        return (0, 0, 0.0)
    cnt = Counter(t)
    n = len(t)
    # match the engine fold: iterate sorted distinct chars
    h = 0.0
    for ch in sorted(cnt):
        p = cnt[ch] / n
        h += p * math.log(p)
    h = 0.0 - h
    return (n, len(cnt), round(h, 4))


def test_char_entropy_matches_python_reference(spark):
    from ocr_spark.operators.textstats import with_char_entropy

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "aaaaaaaaaa"),          # single char -> exactly 0.0, not -0.0
        (2, "abab"),                # uniform 2 chars -> ln 2
        (3, ""),
        (4, None),
        (5, "a1!éé mixed"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        r["doc_id"]: (r["n_chars"], r["n_charset"], r["char_entropy"])
        for r in with_char_entropy(sdf).collect()
    }
    import math

    for i, t in docs:
        ref = _entropy_ref(t)
        assert rows[i][:2] == ref[:2], i
        assert abs(rows[i][2] - ref[2]) <= 1e-4, i
    assert repr(rows[1][2]) == "0.0"  # the -0.0 guard
    assert abs(rows[2][2] - round(math.log(2), 4)) <= 1e-4


def test_char_entropy_plan_is_narrow(spark):
    from ocr_spark.operators.textstats import with_char_entropy

    sdf = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    plan = (
        with_char_entropy(sdf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


# --- Heaps growth curve -----------------------------------------------------


def _heaps_ref(docs, n_points):
    import re as _re

    ids = [i for i, _ in docs]
    lo, hi = min(ids), max(ids)
    w = (hi - lo + n_points) // n_points
    toks = {
        i: _re.findall("[a-z]{3,}", (t or "").lower()) for i, t in docs
    }
    first = {}
    for i in sorted(ids):
        for tk in toks[i]:
            first.setdefault(tk, i)
    per = {}
    for i in ids:
        b = (i - lo) // w
        per.setdefault(b, [0, 0])
        per[b][0] += len(toks[i])
    for tk, i in first.items():
        per[(i - lo) // w][1] += 1
    out, ct, cy = [], 0, 0
    for b in sorted(per):
        if per[b][0] == 0:
            continue
        ct += per[b][0]
        cy += per[b][1]
        out.append((b, lo + (b + 1) * w - 1, ct, cy))
    return out


def test_heaps_growth_matches_python_reference(spark):
    from ocr_spark.operators.textstats import heaps_growth

    docs = [
        (i, f"alpha beta common{'x' * (i % 3)} word{i} filler text here")
        for i in range(40)
    ] + [(40, ""), (41, None)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    for pts in (1, 5, 50):
        got = [
            (r["bucket"], r["id_hi"], r["cum_tokens"], r["cum_types"])
            for r in heaps_growth(sdf, n_points=pts)
            .orderBy("bucket")
            .collect()
        ]
        assert got == _heaps_ref(docs, pts), pts
    # the curve ends at the corpus distinct-type total
    import re as _re

    got = heaps_growth(sdf, n_points=5).orderBy("bucket").collect()
    all_types = {
        tk
        for _, t in docs
        for tk in _re.findall("[a-z]{3,}", (t or "").lower())
    }
    assert got[-1]["cum_types"] == len(all_types)


def test_heaps_growth_validation(spark):
    from ocr_spark.operators.textstats import heaps_growth

    sdf = spark.createDataFrame([(1, "abc def")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_points"):
        heaps_growth(sdf, n_points=0)


# ---------------------------------------------------------------------------
# length_quantiles
# ---------------------------------------------------------------------------


def test_length_quantiles_exact_matches_numpy(spark):
    import numpy as np

    from ocr_spark.operators.textstats import length_quantiles

    vals = {"a": [3, 1, 4, 1, 5, 9, 2, 6], "b": [10, 20, 30]}
    rows = [
        (f"{s}{i}", s, v) for s, vs in vals.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = {r["source"]: r for r in length_quantiles(df).collect()}
    for s, vs in vals.items():
        assert out[s]["n_docs"] == len(vs)
        for p in (25, 50, 75, 95):
            exp = round(
                float(np.percentile(vs, p, method="linear")), 4
            )
            assert out[s][f"p{p}"] == exp, (s, p)


def test_length_quantiles_validation(spark):
    from ocr_spark.operators.textstats import length_quantiles

    df = spark.createDataFrame([(1, "s", 2)], ["doc_id", "source", "n_chars"])
    with pytest.raises(ValueError):
        length_quantiles(df, probs=(1.5,))
    with pytest.raises(ValueError):
        length_quantiles(df, probs=())


def test_length_quantiles_name_collision_rejected(spark):
    from ocr_spark.operators.textstats import length_quantiles

    df = spark.createDataFrame([(1, "s", 2)], ["doc_id", "source", "n_chars"])
    with pytest.raises(ValueError):
        length_quantiles(df, probs=(0.25, 0.254))


def test_cms_overestimates_never_undercounts(spark):
    from ocr_spark.operators.textstats import cms_heavy_hitters

    rows = [
        (i, " ".join(f"word{chr(97 + j)}" for j in range(i % 7 + 3)) * 2)
        for i in range(40)
    ]
    out = cms_heavy_hitters(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        depth=3,
        width=64,
        top_k=10,
    ).collect()
    assert len(out) == 10
    assert all(r["overestimate"] for r in out)
    assert all(r["cms_est"] >= r["exact_cnt"] for r in out)


def test_cms_exact_when_wide(spark):
    from ocr_spark.operators.textstats import cms_heavy_hitters

    # 3 distinct terms in a 4096-wide sketch: collisions are (provably,
    # by direct bucket computation below) absent, so est == exact
    rows = [(0, "apple apple banana"), (1, "apple cherry cherry cherry")]
    out = cms_heavy_hitters(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        depth=4,
        width=4096,
        top_k=3,
    ).collect()
    got = {r["term"]: (r["exact_cnt"], r["cms_est"], r["rel_err"]) for r in out}
    assert got["apple"] == (3, 3, 0.0)
    assert got["cherry"] == (3, 3, 0.0)
    assert got["banana"] == (1, 1, 0.0)
    # cross-engine bucket independence: no (row, bucket) collision
    import hashlib

    buckets = {
        (r, int(hashlib.md5(f"{r}:{t}".encode()).hexdigest()[:15], 16) % 4096)
        for t in ("apple", "banana", "cherry")
        for r in range(4)
    }
    assert len(buckets) == 12


def test_cms_sketch_is_mergeable(spark):
    from ocr_spark.operators.textstats import cms_sketch

    a = spark.createDataFrame([(0, "red green blue red")], ["doc_id", "text"])
    b = spark.createDataFrame([(1, "red yellow")], ["doc_id", "text"])
    both = a.union(b)

    def cells(df):
        return {
            (r["row"], r["bucket"]): r["cnt"]
            for r in cms_sketch(df, depth=2, width=32).collect()
        }

    ca, cb, cu = cells(a), cells(b), cells(both)
    merged = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cu


def test_cms_validates_params(spark):
    from ocr_spark.operators.textstats import cms_heavy_hitters

    df = spark.createDataFrame([(0, "one two")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, depth=0)
    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, top_k=0)
