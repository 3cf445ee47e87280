"""Parity: the join-based corpus-scale scorers (Laplace, Stupid Backoff,
Kneser-Ney for bigrams) must reproduce the reference-pinned LocalLM
(mapbased/LaplaceSmoothedLM, lucenebased/StupidBackoffLM.score,
lucenebased/KneserNeyLM.kn) on the same count tables — including the
backoff/early-return branches exercised by unseen and OOV bigrams."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from topicrawler_spark.lm.counting import (
    count_ngrams,
    kn_discounts_from_histogram,
    score_kn_bigram_join,
    score_laplace_join,
    score_stupid_backoff_bigram_join,
    sum_ngrams_histogram,
)
from topicrawler_spark.lm.local import LocalLM

TEXTS = [
    "the cat sat on the mat",
    "the dog sat on the log",
    "a cat and a dog and a bird",
    "the bird sat quietly",
    "mat",  # 1-token sentence: boundary-mode-0 short-ngram double count
    "on the mat the cat sat",
    "dogs bark and cats meow",
]


@pytest.fixture(scope="module")
def built(spark):
    seqs = [t.split() for t in TEXTS]
    lm = LocalLM.from_token_sequences(seqs, order=2)
    sentences = spark.createDataFrame([(s,) for s in seqs], "tokens array<string>")
    counts = count_ngrams(sentences, order=2).cache()
    counts.count()
    bigrams = counts.filter(F.col("n") == 2).select("ngram")
    toks = F.split(F.col("ngram"), " ")
    reversed_ = bigrams.select(F.concat_ws(" ", toks[1], toks[0]).alias("ngram"))
    oov = spark.createDataFrame(
        [("cat zzz",), ("zzz cat",), ("zzz qqq",)], "ngram string"
    )
    cand = bigrams.unionByName(reversed_).unionByName(oov).distinct()
    return lm, counts, cand


def test_count_table_parity(spark, built):
    lm, counts, _ = built
    got = {r["ngram"]: r["cnt"] for r in counts.collect()}
    assert got == lm.counts


def test_kn_discounts_helper_parity(spark, built):
    lm, counts, _ = built
    N, _ = sum_ngrams_histogram(counts)
    assert kn_discounts_from_histogram(N, 2) == pytest.approx(lm.kn_discounts()[:3])


def test_laplace_join_parity(spark, built):
    lm, counts, cand = built
    got = {
        r["ngram"]: r["log10p"]
        for r in score_laplace_join(cand, counts).collect()
    }
    for g, v in got.items():
        assert v == pytest.approx(lm.laplace_log10(g.split(" ")), rel=1e-9), g


def test_stupid_backoff_join_parity(spark, built):
    lm, counts, cand = built
    got = {
        r["ngram"]: r["sb_log10"]
        for r in score_stupid_backoff_bigram_join(cand, counts).collect()
    }
    assert got, "no candidates scored"
    for g, v in got.items():
        assert v == pytest.approx(lm.stupid_backoff_log10(g.split(" ")), rel=1e-9), g


def test_reference_vocab_split(spark, built):
    from topicrawler_spark.lm.apps import reference_vocab_split

    _, counts, _ = built
    bigrams = counts.filter(F.col("n") == 2).select("ngram")
    ref = spark.createDataFrame([("the",), ("cat",), ("sat",)], "word string")
    kept, dropped = reference_vocab_split(bigrams, ref)
    kept_g = {r["ngram"] for r in kept.collect()}
    dropped_g = {r["ngram"] for r in dropped.collect()}
    allg = {r["ngram"] for r in bigrams.collect()}
    assert kept_g | dropped_g == allg and not (kept_g & dropped_g)
    assert all(g.split(" ")[-1] in {"the", "cat", "sat"} for g in kept_g)
    assert all(g.split(" ")[-1] not in {"the", "cat", "sat"} for g in dropped_g)


def test_sequence_perplexity_oovreflm_rule(built):
    """The PerplexityClient skip rule against a second reference vocab:
    skip iff ends-ref-OOV AND (skip_oov_reflm OR (skip_oov AND ends-OOV))."""
    from topicrawler_spark.lm.perplexity import sequence_perplexity

    lm, _, _ = built
    score = lm.scorer("mle")
    in_vocab = "cat"
    assert in_vocab in lm.vocab
    ngrams = [["the", "cat"], ["the", "zzz"], ["cat", "sat"]]
    ref = {"the", "sat"}  # 'cat' and 'zzz' are ref-OOV
    # skip_oov_reflm: drops every ngram ending outside ref ('the cat', 'the zzz')
    p_ref = sequence_perplexity(lm, score, ngrams, ref_vocab=ref, skip_oov_reflm=True)
    p_only_last = sequence_perplexity(lm, score, [["cat", "sat"]])
    assert p_ref == pytest.approx(p_only_last)
    # skip_oov alone + reference: 'the zzz' ends OOV in BOTH -> skipped;
    # 'the cat' ends OOV only in ref -> kept
    p_both = sequence_perplexity(lm, score, ngrams, skip_oov=True, ref_vocab=ref)
    p_manual = sequence_perplexity(lm, score, [["the", "cat"], ["cat", "sat"]])
    assert p_both == pytest.approx(p_manual)
    # no reference: reduces to the plain skip-oov rule
    p_plain = sequence_perplexity(lm, score, ngrams, skip_oov=True)
    assert p_plain == pytest.approx(p_manual)


def _order_n_candidates(spark, seqs, order):
    """Corpus n-grams ∪ reversals ∪ OOV/partially-seen synthetics: exercises
    the seen path, every backoff early return, the top-order zero-history
    fallback, and the punk floor."""
    from pyspark.sql import functions as F  # noqa: F811

    grams = set()
    vocab = sorted({w for s in seqs for w in s})
    for s in seqs:
        padded = s
        for i in range(max(0, len(padded) - order + 1)):
            grams.add(" ".join(padded[i : i + order]))
    cands = set(grams)
    cands.update(" ".join(reversed(g.split())) for g in grams)
    # rotations: mostly-unseen suffixes with seen histories and vice versa
    cands.update(
        " ".join(g.split()[1:] + g.split()[:1]) for g in list(grams)[: 50]
    )
    # OOV last word / OOV middle word / all-OOV
    for g in list(grams)[:10]:
        parts = g.split()
        cands.add(" ".join(parts[:-1] + ["zzz"]))
        cands.add(" ".join(["zzz"] + parts[1:]))
    cands.add(" ".join(["zzz"] * order))
    cands.add(" ".join(vocab[:order]))
    cands = {g for g in cands if len(g.split()) == order}
    return spark.createDataFrame([(g,) for g in sorted(cands)], "ngram string")


@pytest.mark.parametrize("order,mincount", [(3, 1), (3, 2), (5, 1)])
def test_kn_join_order_n_parity(spark, order, mincount):
    """score_kn_join at n=3 (incl. a pruned table: nf==0 reset + pruned-nom
    early returns) and the production n=5 must match LocalLM.kneser_ney
    branch-for-branch."""
    from topicrawler_spark.lm.counting import score_kn_join

    seqs = [t.split() for t in TEXTS * 2] + [
        "the cat sat on the mat quietly while dogs bark".split(),
        "a bird and a cat sat on a log".split(),
    ]
    lm = LocalLM.from_token_sequences(seqs, order=order, mincount=mincount)
    sentences = spark.createDataFrame([(s,) for s in seqs], "tokens array<string>")
    counts = count_ngrams(sentences, order=order, mincount=mincount).cache()
    cand = _order_n_candidates(spark, seqs, order)
    got = {
        r["ngram"]: r["kn_log10"] for r in score_kn_join(cand, counts, order).collect()
    }
    assert len(got) > 20
    for g, v in got.items():
        want = lm.kneser_ney_log10(g.split(" "))
        assert math.isfinite(v), g
        assert v == pytest.approx(want, rel=1e-9), (g, v, want)
    counts.unpersist()


@pytest.mark.parametrize("order,mincount", [(3, 1), (3, 2), (5, 1)])
def test_sb_join_order_n_parity(spark, order, mincount):
    from topicrawler_spark.lm.counting import score_stupid_backoff_join

    seqs = [t.split() for t in TEXTS * 2] + [
        "the cat sat on the mat quietly while dogs bark".split(),
        "a bird and a cat sat on a log".split(),
    ]
    lm = LocalLM.from_token_sequences(seqs, order=order, mincount=mincount)
    sentences = spark.createDataFrame([(s,) for s in seqs], "tokens array<string>")
    counts = count_ngrams(sentences, order=order, mincount=mincount).cache()
    cand = _order_n_candidates(spark, seqs, order)
    got = {
        r["ngram"]: r["sb_log10"]
        for r in score_stupid_backoff_join(cand, counts, order).collect()
    }
    assert len(got) > 20
    for g, v in got.items():
        want = lm.stupid_backoff_log10(g.split(" "))
        assert v == pytest.approx(want, rel=1e-9), (g, v, want)
    counts.unpersist()


def test_general_join_scorers_match_bigram_twins(spark, built):
    """At n=2 the general scorers must reproduce the dedicated bigram joins."""
    from topicrawler_spark.lm.counting import score_kn_join, score_stupid_backoff_join

    _, counts, cand = built
    kn2 = {r["ngram"]: r["kn_log10"] for r in score_kn_bigram_join(cand, counts).collect()}
    kng = {r["ngram"]: r["kn_log10"] for r in score_kn_join(cand, counts, 2).collect()}
    assert kng == pytest.approx(kn2)
    sb2 = {
        r["ngram"]: r["sb_log10"]
        for r in score_stupid_backoff_bigram_join(cand, counts).collect()
    }
    sbg = {
        r["ngram"]: r["sb_log10"]
        for r in score_stupid_backoff_join(cand, counts, 2).collect()
    }
    assert sbg == pytest.approx(sb2)


def test_doc_perplexity_kn2_matches_local_lm(spark):
    """The relational per-document KN2 perplexity entry (pad -> bigram join
    scoring -> 10^(-Σlog10 p / N)) must equal the in-memory LocalLM scored
    perplexity on the same corpus (ModelPerplexity.java:76-84 semantics)."""
    import os
    import re

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip("testdata unavailable")
    import pandas as pd

    from __spark_entry__ import q_doc_perplexity_kn2

    got = {
        r["doc_id"]: (r["n_ngrams"], r["perp_kn2"])
        for r in q_doc_perplexity_kn2(spark, sf_dir).collect()
    }
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    padded = {
        int(row.doc_id): ["<s>"] + re.sub(r"\s+", " ", str(row.text).strip()).lower().split(" ") + ["</s>"]
        for row in docs.itertuples()
    }
    lm = LocalLM.from_token_sequences(list(padded.values()), order=2)
    assert set(got) == set(padded)
    for doc_id, toks in padded.items():
        ngrams = [toks[i : i + 2] for i in range(len(toks) - 1)]
        s = sum(round(lm.kneser_ney_log10(g), 6) for g in ngrams)
        perp = round(10.0 ** (-(s / len(ngrams))), 4)
        n, p = got[doc_id]
        assert n == len(ngrams), doc_id
        assert p == pytest.approx(perp, abs=2e-4), (doc_id, p, perp)


def test_kn_join_parity(spark, built):
    lm, counts, cand = built
    got = {
        r["ngram"]: r["kn_log10"]
        for r in score_kn_bigram_join(cand, counts).collect()
    }
    assert got, "no candidates scored"
    # the candidate set must exercise seen, unseen-but-in-vocab, and OOV paths
    for g, v in got.items():
        want = lm.kneser_ney_log10(g.split(" "))
        assert math.isfinite(v), g
        assert v == pytest.approx(want, rel=1e-9), g


def test_join_scorers_null_out_wrong_order_ngrams(spark, built):
    """Rows whose ngram does not have exactly `order` tokens must score NULL
    (not a plausible backoff score from empty join keys) in both general
    join scorers — the loud-failure guard for malformed input."""
    from topicrawler_spark.lm.counting import score_kn_join, score_stupid_backoff_join

    _, counts, _ = built
    mixed = spark.createDataFrame(
        [("the cat",), ("cat",), ("the cat sat",), ("",)], "ngram string"
    )
    kn = {r["ngram"]: r["kn_log10"] for r in score_kn_join(mixed, counts, 2).collect()}
    sb = {
        r["ngram"]: r["sb_log10"]
        for r in score_stupid_backoff_join(mixed, counts, 2).collect()
    }
    for got in (kn, sb):
        assert got["the cat"] is not None
        assert got["cat"] is None
        assert got["the cat sat"] is None
        assert got[""] is None


@pytest.mark.parametrize("order", [3, 5])
def test_doc_perplexity_kn_order_matches_local_lm(spark, order):
    """The relational per-document KN perplexity entries at the reference's
    eval orders (runeval.sh: n=5 production, n=3 secondary) must equal the
    in-memory LocalLM scored perplexity on the same corpus."""
    import os
    import re

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip("testdata unavailable")
    import pandas as pd

    from __spark_entry__ import _doc_perp_kn_order

    got = {
        r["doc_id"]: (r["n_ngrams"], r[f"perp_kn{order}"])
        for r in _doc_perp_kn_order(spark, sf_dir, order).collect()
    }
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    padded = {
        int(row.doc_id): ["<s>"] + re.sub(r"\s+", " ", str(row.text).strip()).lower().split(" ") + ["</s>"]
        for row in docs.itertuples()
    }
    lm = LocalLM.from_token_sequences(list(padded.values()), order=order)
    assert set(got) == set(padded)
    for doc_id, toks in padded.items():
        ngrams = [toks[i : i + order] for i in range(len(toks) - order + 1)]
        s = sum(round(lm.kneser_ney_log10(g), 6) for g in ngrams)
        perp = round(10.0 ** (-(s / len(ngrams))), 4)
        n, p = got[doc_id]
        assert n == len(ngrams), doc_id
        assert p == pytest.approx(perp, abs=2e-4), (doc_id, p, perp)


@pytest.mark.parametrize("order", [2, 3, 5])
def test_pivot_join_path_matches_join_per_key(spark, order):
    """The single-exchange explode/join/pivot stats lookup
    (``_join_stats_keys_pivot``, used by the per-round distinct-ngram
    scoring path) must produce the exact kn_log10 of the join-per-key form
    on the same candidates — including OOV, pruned, and rotated ngrams."""
    from topicrawler_spark.lm.counting import (
        count_ngrams,
        kn_join_setup,
        score_kn_join_with_stats,
    )

    seqs = [t.split() for t in TEXTS * 2] + [
        "the cat sat on the mat quietly while dogs bark".split(),
        "a bird and a cat sat on a log".split(),
    ]
    sentences = spark.createDataFrame([(s,) for s in seqs], "tokens array<string>")
    counts = count_ngrams(sentences, order=order, mincount=1).cache()
    stats, consts = kn_join_setup(counts, order)
    cand = _order_n_candidates(spark, seqs, order)
    legacy = {
        r["ngram"]: r["kn_log10"]
        for r in score_kn_join_with_stats(cand, stats, order, consts).collect()
    }
    pivot = {
        r["ngram"]: r["kn_log10"]
        for r in score_kn_join_with_stats(
            cand, stats, order, consts, unique_input=True
        ).collect()
    }
    assert len(pivot) == len(legacy) > 20
    for g, v in legacy.items():
        assert pivot[g] == pytest.approx(v, rel=1e-12, abs=1e-300), g
    counts.unpersist()


def test_stats_lookup_scores_its_own_stats(spark):
    """A prebuilt ``StatsLookup`` stands in for the stats dimension (there is
    no separate stats argument to fall out of step with it): scoring with
    the lookup must equal scoring with the dimension it was built from, in
    both lookup forms, and must differ from another LM's dimension."""
    from topicrawler_spark.lm.counting import (
        build_stats_lookup,
        kn_join_exprs,
        kn_join_setup,
        score_kn_join_with_stats,
    )

    order = 3
    seqs = [t.split() for t in TEXTS]

    def setup(sequences):
        sentences = spark.createDataFrame([(s,) for s in sequences], "tokens array<string>")
        return kn_join_setup(count_ngrams(sentences, order=order), order)

    stats, consts = setup(seqs)
    other_stats, _ = setup(seqs[:2])
    exprs = kn_join_exprs(order, consts)
    lookup = build_stats_lookup(stats, exprs[0], ["cnt", "nf_tot", "np_tot", "nfp_tot"])
    cand = _order_n_candidates(spark, seqs, order)

    def scores(source, pivot):
        return {
            r["ngram"]: r["kn_log10"]
            for r in score_kn_join_with_stats(
                cand, source, order, consts, exprs=exprs, unique_input=pivot
            ).collect()
        }

    for pivot in (False, True):
        own = scores(stats, pivot)
        assert scores(lookup, pivot) == own
        assert scores(other_stats, pivot) != own
