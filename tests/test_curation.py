"""Curation-family operators: decontamination, repetition signals, PII
redaction, token-budget selection (operators/curation.py).  Semantics are
driver-oracle-gated at sf0.01; these tests pin the edge cases the oracle
data never hits (empty/short docs, overlap-free corpora, exact budget
boundaries) and the plan shapes the docstrings promise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beetle_search_engine_spark.operators.curation import (
    deterministic_shuffle,
    mixture_sample,
    ngram_decontaminate,
    pack_sequences,
    duplicate_span_stats,
    pii_redact,
    repetition_stats,
    token_budget_select,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# repetition_stats


def test_repetition_counts_longest_run(spark):
    # "alpha beta" x3 + "alpha gamma": 2-grams (stopwords absent):
    # [alpha beta, beta alpha, alpha beta, beta alpha, alpha beta,
    #  beta alpha, alpha gamma] -> 7 grams, 3 distinct, top count 3
    df = _docs(spark, [(1, "alpha beta alpha beta alpha beta alpha gamma")])
    r = repetition_stats(df, n=2).collect()[0]
    assert r.n_grams == 7
    assert r.n_distinct == 3
    assert r.top_gram_frac == round(3 / 7, 6)
    assert r.dup_gram_frac == round(1 - 3 / 7, 6)


def test_repetition_all_distinct_and_all_same(spark):
    out = {
        r.doc_id: r
        for r in repetition_stats(
            _docs(
                spark,
                [
                    (1, "alpha beta gamma delta"),  # all 2-grams distinct
                    (2, "echo echo echo echo"),  # one repeated 2-gram
                ],
            ),
            n=2,
        ).collect()
    }
    assert out[1].dup_gram_frac == 0.0 and out[1].top_gram_frac == round(1 / 3, 6)
    assert out[2].n_grams == 3 and out[2].n_distinct == 1
    assert out[2].top_gram_frac == 1.0 and out[2].dup_gram_frac == round(2 / 3, 6)


def test_repetition_short_docs_emit_no_row(spark):
    # 1 token -> no 2-grams; empty/NULL text -> no tokens at all
    df = _docs(spark, [(1, "solitary"), (2, ""), (3, None), (4, "alpha beta")])
    ids = [r.doc_id for r in repetition_stats(df, n=2).collect()]
    assert ids == [4]


def test_repetition_plan_has_no_exchange(spark):
    """The per-row HOF formulation must not shuffle (its whole point)."""
    df = _docs(spark, [(1, "alpha beta alpha beta")]).repartition(4)
    plan = repetition_stats(df, n=2)._jdf.queryExecution().executedPlan().toString()
    # the input repartition is the only exchange allowed
    assert plan.count("Exchange") <= 1


# ---------------------------------------------------------------------------
# ngram_decontaminate


def _decon_fixture(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta echo"),  # shares 4-gram with bench 100
            (2, "foxtrot golf hotel india"),  # no overlap
            (3, "alpha beta gamma delta zulu victor whiskey xray"),  # same 4-gram
        ],
    )
    bench = _docs(
        spark,
        [
            (100, "alpha beta gamma delta"),
            (101, "kilo lima mike november"),
        ],
    )
    return corpus, bench


def test_decontaminate_flags_overlapping_docs(spark):
    corpus, bench = _decon_fixture(spark)
    out = {r.doc_id: r for r in ngram_decontaminate(corpus, bench, n=4).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_hit_shingles == 1 and out[1].n_bench_docs == 1
    assert out[3].n_hit_shingles == 1 and out[3].n_bench_docs == 1


def test_decontaminate_clean_corpus_is_empty(spark):
    corpus, _ = _decon_fixture(spark)
    bench = _docs(spark, [(100, "papa quebec romeo sierra")])
    assert ngram_decontaminate(corpus, bench, n=4).count() == 0


def test_decontaminate_counts_multiple_bench_hits(spark):
    corpus = _docs(spark, [(1, "alpha beta gamma delta echo foxtrot")])
    bench = _docs(
        spark,
        [
            (100, "alpha beta gamma delta"),
            (101, "beta gamma delta echo"),
            (102, "alpha beta gamma delta echo"),  # shares 3 shingles
        ],
    )
    r = ngram_decontaminate(corpus, bench, n=4).collect()[0]
    # corpus shingles {abgd, bgde, gdef}: abgd hit by bench 100+102,
    # bgde by 101+102, gdef by nobody -> 2 hit shingles, 3 bench docs
    assert r.n_hit_shingles == 2
    assert r.n_bench_docs == 3


def test_decontaminate_plan_broadcasts_bench(spark):
    corpus, bench = _decon_fixture(spark)
    plan = (
        ngram_decontaminate(corpus, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# pii_redact


def test_pii_counts_and_redaction(spark):
    df = _docs(
        spark,
        [
            (1, "reach me at jane.doe+spam@mail.example.org or 555-123-4567"),
            (2, "server 192.168.1.100 and 10.0.0.1 no contact"),
            (3, "clean text with no identifiers"),
            (4, None),
        ],
    )
    out = {r.doc_id: r for r in pii_redact(df).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (1, 1, 0)
    assert (out[2].n_emails, out[2].n_phones, out[2].n_ips) == (0, 0, 2)
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)
    assert (out[4].n_emails, out[4].n_phones, out[4].n_ips) == (0, 0, 0)


def test_pii_redacted_text_content(spark):
    df = _docs(spark, [(1, "mail a@b.io ip 1.2.3.4 tel 555-123-4567 end")])
    red = (
        _docs(spark, [(1, "mail a@b.io ip 1.2.3.4 tel 555-123-4567 end")])
        .select(F.md5(F.lit("mail <EMAIL> ip <IP> tel <PHONE> end")).alias("want"))
        .collect()[0]
        .want
    )
    assert pii_redact(df).collect()[0].redacted_md5 == red


def test_pii_phone_boundary_not_matched_inside_longer_number(spark):
    # \b guards: a 3-3-4 shape embedded in a longer digit run is not a phone
    df = _docs(spark, [(1, "serial 9555-123-45678 ok")])
    r = pii_redact(df).collect()[0]
    assert r.n_phones == 0


# ---------------------------------------------------------------------------
# token_budget_select


def test_token_budget_prefix_and_boundary(spark):
    # scores pick order 3,2,1; token counts 3,2,2 -> budget 5 keeps 3,2
    df = spark.createDataFrame(
        [
            (1, "alpha beta", 10),
            (2, "gamma delta", 20),
            (3, "echo foxtrot golf", 30),
        ],
        "doc_id long, text string, score long",
    )
    out = token_budget_select(df, 5).orderBy("cum_tokens").collect()
    assert [(r.doc_id, r.n_tokens, r.cum_tokens) for r in out] == [(3, 3, 3), (2, 2, 5)]


def test_token_budget_tie_broken_by_id(spark):
    df = spark.createDataFrame(
        [(2, "alpha beta", 1), (1, "gamma delta", 1)],
        "doc_id long, text string, score long",
    )
    out = token_budget_select(df, 2).collect()
    assert [(r.doc_id, r.cum_tokens) for r in out] == [(1, 2)]


def test_token_budget_zero_budget(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta", 1)], "doc_id long, text string, score long"
    )
    assert token_budget_select(df, 0).count() == 0


# ---------------------------------------------------------------------------
# deterministic_shuffle / pack_sequences / mixture_sample


def test_shuffle_is_layout_independent_and_dense(spark):
    rows = [(i, f"tok{i}") for i in range(40)]
    a = deterministic_shuffle(_docs(spark, rows), n_buckets=4, seed=3).collect()
    b = deterministic_shuffle(
        _docs(spark, list(reversed(rows))).repartition(7), n_buckets=4, seed=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # per-bucket positions are dense 1..n
    by_bucket: dict[int, list[int]] = {}
    for r in a:
        by_bucket.setdefault(r.bucket, []).append(r.pos)
    for poss in by_bucket.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_shuffle_seed_changes_order(spark):
    rows = [(i, f"tok{i}") for i in range(40)]
    a = {r.doc_id: (r.bucket, r.pos) for r in deterministic_shuffle(_docs(spark, rows), 4, seed=3).collect()}
    b = {r.doc_id: (r.bucket, r.pos) for r in deterministic_shuffle(_docs(spark, rows), 4, seed=4).collect()}
    assert a != b


def test_pack_sequences_stream_is_contiguous(spark):
    # 1 bucket -> one stream; offsets must tile [0, total) exactly
    rows = [(i, " ".join(f"tok{i}w{j}" for j in range(i + 1))) for i in range(10)]
    out = sorted(
        pack_sequences(_docs(spark, rows), ctx_len=5, n_buckets=1, seed=7).collect(),
        key=lambda r: r.start_offset,
    )
    offset = 0
    for r in out:
        assert r.start_offset == offset
        assert r.first_chunk == offset // 5
        assert r.last_chunk == (offset + r.n_tokens - 1) // 5
        offset += r.n_tokens
    assert offset == sum(i + 1 for i in range(10))


def test_pack_sequences_doc_spans_chunks(spark):
    # a 7-token doc with ctx_len 3 spans chunks 0..2
    df = _docs(spark, [(1, "alpha beta gamma delta echo foxtrot golf")])
    r = pack_sequences(df, ctx_len=3, n_buckets=1, seed=7).collect()[0]
    assert (r.start_offset, r.first_chunk, r.last_chunk) == (0, 0, 2)


def test_pack_sequences_drops_tokenless_docs(spark):
    df = _docs(spark, [(1, "alpha beta"), (2, ""), (3, None), (4, "the of")])
    ids = [r.doc_id for r in pack_sequences(df, ctx_len=4, n_buckets=1).collect()]
    assert ids == [1]  # 2/3 empty; 4 is all stopwords


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mixture_sample_extremes_and_determinism(spark):
    rows = [(i, "keep_all" if i % 2 == 0 else "drop_all") for i in range(100)]
    df = _src_docs(spark, rows)
    out = mixture_sample(df, {"keep_all": 1.0, "drop_all": 0.0}, default=0.0).collect()
    assert sorted(r.doc_id for r in out) == [i for i in range(100) if i % 2 == 0]
    again = mixture_sample(df.repartition(5), {"keep_all": 1.0, "drop_all": 0.0}, default=0.0).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mixture_sample_default_fraction_applies(spark):
    df = _src_docs(spark, [(i, "unlisted") for i in range(200)])
    kept = mixture_sample(df, {"other": 1.0}, default=0.5).count()
    assert 0 < kept < 200  # roughly half, exact value pinned by the hash


# ---------------------------------------------------------------------------
# connected components (dedup clusters)


def _cc(spark, pairs):
    from beetle_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r.doc_id: r.component for r in connected_components(df).collect()
    }


def test_cc_merges_transitive_chain(spark):
    # 1-2, 2-3, 3-4: one component rooted at 1 (propagation must cross
    # multiple hops, not just direct neighbors)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges(spark):
    n = 30  # diameter >> 2: exercises the iteration loop properly
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == {i: 0 for i in range(n + 1)}


def test_cc_clique_and_reversed_edges(spark):
    # unordered/duplicated edges collapse to the same component
    got = _cc(spark, [(5, 3), (3, 5), (5, 4), (4, 3)])
    assert got == {3: 3, 4: 3, 5: 3}


def test_cc_only_paired_nodes_appear(spark):
    got = _cc(spark, [(7, 8)])
    assert set(got) == {7, 8}


def test_cc_checkpoint_dir_parquet_rounds(spark, tmp_path):
    """The cluster-real staging path (ADVICE r04): rounds staged to
    parquet give clusters identical to the localCheckpoint default, over
    a graph needing several propagation rounds."""
    from beetle_search_engine_spark.operators.dedup import connected_components

    pairs = [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    ck = str(tmp_path / "cc_ck")
    staged = {
        r.doc_id: r.component
        for r in connected_components(df, checkpoint_dir=ck).collect()
    }
    default = {r.doc_id: r.component for r in connected_components(df).collect()}
    assert staged == default == {**{i: 0 for i in range(9)}, 20: 20, 21: 20, 22: 20}


def test_cc_nonconvergence_raises(spark):
    """Truncated labels must never be returned silently (ADVICE r04)."""
    import pytest as _pytest

    from beetle_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2).collect()


def test_cc_unknown_algorithm_raises_on_local_path(spark):
    """A misspelled algorithm raises on a pair set small enough for the
    driver-local union-find, not only once the distributed path runs."""
    import pytest as _pytest

    from beetle_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(df, algorithm="typo")


def test_cc_star_matches_label_propagation(spark):
    """Kiveris large-star/small-star returns identical components to
    min-label propagation on cliques, chains and reversed edges."""
    from beetle_search_engine_spark.operators.dedup import connected_components

    pairs = (
        [(i, i + 1) for i in range(8)]           # chain
        + [(20, 21), (21, 22), (22, 20)]         # triangle
        + [(30, 31)]                             # pair
        + [(41, 40), (40, 42), (42, 41)]         # reversed/duplicated
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    star = {r.doc_id: r.component
            for r in connected_components(df, algorithm="star").collect()}
    label = {r.doc_id: r.component for r in connected_components(df).collect()}
    assert star == label
    assert star[8] == 0 and star[22] == 20 and star[42] == 40


def test_cc_star_solves_long_chain_in_log_rounds(spark):
    """A 120-node chain: label propagation needs 120 rounds (raises at
    max_iter=50); the star algorithm converges in O(log^2 n)."""
    import pytest as _pytest

    from beetle_search_engine_spark.operators.dedup import connected_components

    n = 120
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=50)
    got = {r.doc_id: r.component
           for r in connected_components(df, max_iter=50, algorithm="star").collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_cc_star_checkpoint_dir(spark, tmp_path):
    from beetle_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(50, 51)], "id_a long, id_b long"
    )
    ck = str(tmp_path / "star_ck")
    staged = {r.doc_id: r.component
              for r in connected_components(df, algorithm="star", checkpoint_dir=ck).collect()}
    assert staged == {**{i: 0 for i in range(11)}, 50: 50, 51: 50}


# ---------------------------------------------------------------------------
# duplicate_span_stats (ExactSubstr, Lee et al. 2022)


def test_duplicate_span_cross_doc_full_overlap(spark):
    # two identical 5-token docs at n=3: every window (3 of them) is
    # duplicated; span union covers all 5 tokens
    t = "alpha beta gamma delta epsilon"
    out = {r.doc_id: r for r in duplicate_span_stats(
        _docs(spark, [(1, t), (2, t)]), n=3).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert (r.n_tokens, r.n_dup_windows, r.dup_tokens) == (5, 3, 5)
        assert r.dup_fraction == 1.0


def test_duplicate_span_partial_overlap_union_not_sum(spark):
    # doc 2 shares only the prefix "alpha beta gamma delta" with doc 1:
    # at n=3 that's 2 duplicated windows each, overlapping in 2 tokens —
    # union covers 4 tokens (not 2*3=6)
    d1 = "alpha beta gamma delta zeta eta theta"
    d2 = "alpha beta gamma delta iota kappa mu"
    out = {r.doc_id: r for r in duplicate_span_stats(
        _docs(spark, [(1, d1), (2, d2)]), n=3).collect()}
    for r in out.values():
        assert (r.n_dup_windows, r.dup_tokens) == (2, 4)
        assert r.dup_fraction == round(4 / 7, 6)


def test_duplicate_span_within_doc_repeat_counts(spark):
    # a repeat WITHIN one doc is a duplicate too (Lee et al. dedups
    # self-repeats): "alpha beta gamma ... alpha beta gamma" at n=3
    df = _docs(spark, [(1, "alpha beta gamma delta2 epsilon2 alpha beta gamma")])
    r = duplicate_span_stats(df, n=3).collect()[0]
    assert r.n_dup_windows == 2          # positions 1 and 6
    assert r.dup_tokens == 6             # [1,3] + [6,8], disjoint
    assert r.n_tokens == 8


def test_duplicate_span_no_dups_empty_result(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "delta epsilon zeta")])
    assert duplicate_span_stats(df, n=2).count() == 0


def test_duplicate_span_min_count_threshold(spark):
    # the shared window appears twice; min_count=3 filters it out
    t = "alpha beta gamma"
    df = _docs(spark, [(1, t), (2, t)])
    assert duplicate_span_stats(df, n=3, min_count=3).count() == 0
    assert duplicate_span_stats(df, n=3, min_count=2).count() == 2


def test_duplicate_span_short_docs_skipped(spark):
    # docs shorter than n emit no windows (and never NULL-poison the agg)
    t = "alpha beta gamma delta"
    df = _docs(spark, [(1, t), (2, t), (3, "alpha beta")])
    out = {r.doc_id for r in duplicate_span_stats(df, n=4).collect()}
    assert out == {1, 2}


# property: the Spark span-union fold == a naive Python reference on
# random corpora drawn from a tiny alphabet (tokenization is identity
# for these words, so the property isolates the window/count/union math)
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["aa", "bb", "cc", "dd", "ee"]


def _naive_span_stats(texts: list[str], n: int, min_count: int):
    docs = [t.split() for t in texts]
    counts = Counter()
    for toks in docs:
        for i in range(len(toks) - n + 1):
            counts[tuple(toks[i : i + n])] += 1
    out = {}
    for doc_id, toks in enumerate(docs):
        hit = [i for i in range(len(toks) - n + 1)
               if counts[tuple(toks[i : i + n])] >= min_count]
        if not hit:
            continue
        covered = set()
        for i in hit:
            covered.update(range(i, i + n))
        out[doc_id] = (len(toks), len(hit), len(covered))
    return out


@given(
    corpus=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
        min_size=1, max_size=6,
    ),
    n=st.integers(2, 4),
)
@settings(max_examples=12, deadline=None)
def test_duplicate_span_matches_naive_reference(spark, corpus, n):
    df = _docs(spark, list(enumerate(corpus)))
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_windows, r.dup_tokens)
        for r in duplicate_span_stats(df, n=n).collect()
    }
    assert got == _naive_span_stats(corpus, n, 2)


def test_cc_star_keeps_self_loop_only_nodes(spark):
    """A node appearing only as a self-pair is still 'a node appearing
    in pairs': the label path keeps it (labelled with itself); the star
    path's a != b canonicalization must not silently drop it."""
    from beetle_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], "id_a long, id_b long"
    )
    star = {r.doc_id: r.component
            for r in connected_components(df, algorithm="star").collect()}
    label = {r.doc_id: r.component for r in connected_components(df).collect()}
    assert star == label == {7: 7, 1: 1, 2: 1}


def test_gopher_rules_signals_and_keep(spark):
    """Each Gopher A1.1 rule trips on a crafted doc and the good doc
    passes; signals are per-row expressions (no exchange in the plan)."""
    from beetle_search_engine_spark.operators.curation import gopher_rules

    good = "the quick brown fox jumps over the lazy dog and that " * 5
    rows = [
        (0, good),                                       # passes everything
        (1, "too short but the and that"),               # word count < min
        (2, ("aa " * 60) + "the and"),                   # mean word len < 3
        (3, good + " " + "#" * 40),                      # symbol ratio
        (4, "\n".join("- bullet the and item %d x" % i for i in range(10)) * 6),
        (5, ("the and word trails off..." + "\n") * 60), # ellipsis lines
        (6, ("123 456 789 " * 20) + "the and"),          # alpha frac < 0.8
        (7, "zebra quilt " * 30),                        # no stop words
        (8, None),                                       # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_rules(df, min_words=50).collect()}
    assert got[0].keep is True
    assert got[0].stop_hits == 3  # the, and, that
    for bad in range(1, 9):
        assert got[bad].keep is False, bad
    # per-signal attribution: the failing rule is the intended one
    assert got[1].n_words < 50
    assert got[2].mean_word_len < 3
    assert got[3].symbol_ratio > 0.1
    assert got[4].bullet_line_frac > 0.9
    assert got[5].ellipsis_line_frac > 0.3
    assert got[6].alpha_word_frac < 0.8
    assert got[7].stop_hits < 2 and got[7].n_words >= 50
    assert got[8].n_words == 0
    # zero-exchange plan: a narrow map over the scan
    plan = gopher_rules(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_c4_rules_signals_and_keep(spark):
    """Each C4 §2.2 rule trips on a crafted doc; the good doc passes.
    Zero-exchange plan like gopher_rules."""
    from beetle_search_engine_spark.operators.curation import c4_rules

    good = "this is a fine sentence.\nanother proper sentence here.\nand one more to finish."
    rows = [
        (0, good),                                        # passes everything
        (1, "no terminal punctuation at all\nstill none"),  # 0 retained lines
        (2, "one line only ends right."),                 # < min_sentences
        (3, good + "\nsome lorem ipsum filler."),         # lorem ipsum page
        (4, good + "\nvar x = {1};"),                     # curly brace page
        (5, good.replace("another", "blocked")),          # blocklist word
        (6, "use javascript here.\n" + good),             # js line dropped, still enough
        (7, "ok.\nno.\nhm."),                             # lines under 3 words
        (8, None),                                        # null text
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = c4_rules(df, min_sentences=3, bad_words=["blocked"])
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].keep == 1 and got[0].n_retained_lines == 3 and got[0].n_sentences == 3
    assert got[1].keep == 0 and got[1].n_retained_lines == 0
    assert got[2].keep == 0 and got[2].n_sentences == 1
    assert got[3].keep == 0 and got[3].has_lorem_ipsum == 1
    assert got[4].keep == 0 and got[4].has_brace == 1
    assert got[5].keep == 0 and got[5].bad_word_hits == 1
    assert got[6].keep == 1  # the javascript line is dropped, 3 good remain
    assert got[7].keep == 0 and got[7].n_retained_lines == 0
    assert got[8].keep == 0 and got[8].n_lines == 0
    plan = c4_rules(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _naive_remove_spans(docs, n=3, min_count=2):
    """Pure-Python reference for remove_duplicate_spans: same window
    hashing rule (text windows, not hashes — collisions are absent at
    test scale), keeper = min (doc_id, pos), overlaps merged."""
    from beetle_search_engine_spark.functions.analyzer import sql_tokenize

    toks = {d: sql_tokenize(t or "") for d, t in docs}
    occ = {}
    for d, ts in sorted(toks.items()):
        for p in range(len(ts) - n + 1):
            occ.setdefault(" ".join(ts[p : p + n]), []).append((d, p))
    cut = {d: set() for d in toks}
    for _w, places in occ.items():
        if len(places) >= min_count:
            for d, p in sorted(places)[1:]:  # all but the first occurrence
                cut[d].update(range(p, p + n))
    out = {}
    for d, ts in toks.items():
        kept = [t for i, t in enumerate(ts) if i not in cut[d]]
        out[d] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


def test_remove_duplicate_spans_matches_naive(spark):
    from beetle_search_engine_spark.operators.curation import remove_duplicate_spans

    docs = [
        ("a", "alpha beta gamma delta epsilon zeta"),          # source of the span
        ("b", "intro words alpha beta gamma delta epsilon zeta tail"),  # copy -> cut
        ("c", "alpha beta gamma delta epsilon zeta"),          # full copy -> all cut
        ("d", "unique text with no duplicated windows here"),
        ("e", "rep rep rep rep rep rep rep rep"),              # self-repeat run
        ("f", "xx"),                                           # shorter than n
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r.doc_id: (r.text, r.n_tokens, r.removed_tokens)
        for r in remove_duplicate_spans(df, n=3, min_count=2).collect()
    }
    want = _naive_remove_spans(docs, n=3, min_count=2)
    assert set(got) == set(want)  # every input doc present
    for d in want:
        assert got[d] == want[d], (d, got[d], want[d])
    # the canonical first occurrence survives verbatim
    assert got["a"][2] == 0
    # and the full copy is entirely cut
    assert got["c"][0] == "" and got["c"][2] == got["c"][1]


def test_remove_duplicate_spans_consistent_with_stats(spark):
    """removed_tokens for a NON-canonical doc equals the stats op's
    dup_tokens whenever the doc holds no canonical occurrence (the
    stats op counts coverage irrespective of keepers)."""
    from beetle_search_engine_spark.operators.curation import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    docs = [
        ("a", "one two three four five six seven"),
        ("z", "pad pad one two three four five six seven end bit"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    rem = {r.doc_id: r.removed_tokens for r in remove_duplicate_spans(df, n=4).collect()}
    st = {r.doc_id: r.dup_tokens for r in duplicate_span_stats(df, n=4).collect()}
    assert rem["z"] == st["z"] > 0  # z is never the keeper ('a' < 'z')
    assert rem["a"] == 0  # canonical occurrences are kept


def test_duplicate_span_hot_key_identity(spark):
    """De-skew regression pin: a corpus-hot n-gram (license-boilerplate
    shape — ONE trigram family with ~10^4 occurrences corpus-wide) must
    produce output identical to the naive reference under the two-phase
    groupBy-count + join-back shape (the Window.partitionBy("_h") form
    this replaced funnels every occurrence into one partition)."""
    from beetle_search_engine_spark.operators.curation import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    hot = "lic hdr txt " * 8  # 8 self-repeats of the hot trigram per doc
    docs = [(f"d{i:05d}", hot + f"u{i}a u{i}b u{i}c") for i in range(500)]
    # ~500 * 22 = 11k occurrences of hot windows, all on a handful of keys
    df = spark.createDataFrame(docs, "doc_id string, text string")

    got = {
        r.doc_id: (r.text, r.n_tokens, r.removed_tokens)
        for r in remove_duplicate_spans(df, n=3, min_count=2).collect()
    }
    want = _naive_remove_spans(docs, n=3, min_count=2)
    assert got == want
    # the canonical doc (min doc_id) keeps its first trigram occurrence
    assert got["d00000"][2] < got["d00000"][1]

    st_rows = {
        r.doc_id: (r.n_tokens, r.n_dup_windows, r.dup_tokens)
        for r in duplicate_span_stats(df, n=3, min_count=2).collect()
    }
    naive_st = _naive_span_stats([t for _, t in docs], 3, 2)
    assert st_rows == {f"d{i:05d}": v for i, v in naive_st.items()}


def test_cc_diameter_exactly_max_iter_converges(spark):
    """A graph whose labels stabilize in exactly max_iter update rounds
    must CONVERGE (the fixpoint needs one extra confirming round — the
    r05 off-by-one reported a diameter==max_iter graph as non-converged)."""
    from beetle_search_engine_spark.operators.dedup import connected_components

    # chain 0-1-2: min-label propagation needs exactly 2 update rounds
    df = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    got = {r.doc_id: r.component
           for r in connected_components(df, max_iter=2).collect()}
    assert got == {0: 0, 1: 0, 2: 0}


def test_token_budget_checkpoint_dir_matches_local(spark, tmp_path):
    """The durable parquet-staging path (checkpoint_dir=) selects the
    identical budget prefix as the default localCheckpoint path."""
    docs = [(f"d{i:03d}", float((i * 37) % 101), "tok " * (5 + i % 17)) for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id string, score double, text string")
    a = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in token_budget_select(df, 900).collect()
    )
    b = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in token_budget_select(df, 900, checkpoint_dir=str(tmp_path)).collect()
    )
    assert a == b and a


def test_span_ops_checkpoint_dir_identity(spark, tmp_path):
    """Staging the window stream (checkpoint_dir=) changes only the plan,
    never the result, for both span operators."""
    docs = [
        ("a", "one two three four five six seven eight nine ten"),
        ("b", "zz one two three four five six qq unique words here"),
        ("c", "one two three four five six seven eight distinct tail"),
    ]
    from beetle_search_engine_spark.operators.curation import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(docs, "doc_id string, text string")
    s0 = sorted(map(tuple, duplicate_span_stats(df).collect()))
    s1 = sorted(map(tuple, duplicate_span_stats(df, checkpoint_dir=str(tmp_path / "a")).collect()))
    assert s0 == s1 and s0
    r0 = sorted(map(tuple, remove_duplicate_spans(df).collect()))
    r1 = sorted(map(tuple, remove_duplicate_spans(df, checkpoint_dir=str(tmp_path / "b")).collect()))
    assert r0 == r1 and r0


def test_cc_local_fast_path_matches_distributed(spark):
    """The round-7 driver-local union-find (small pair sets) must equal
    the distributed label propagation bit-for-bit, including string-id
    ordering, and the conf knob must force the distributed path."""
    from beetle_search_engine_spark.operators.dedup import connected_components

    pairs = (
        [(i, i + 1) for i in range(8)]
        + [(20, 21), (21, 22), (22, 20)]
        + [(30, 31)]
        + [(41, 40), (40, 42), (42, 41)]
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    local = {r.doc_id: r.component for r in connected_components(df).collect()}
    spark.conf.set("spark.beetle.cc.localPairsMax", "0")
    try:
        dist = {r.doc_id: r.component for r in connected_components(df).collect()}
    finally:
        spark.conf.unset("spark.beetle.cc.localPairsMax")
    assert local == dist
    # string ids: UTF-8 min ordering must match Spark's string min
    sdf = spark.createDataFrame(
        [("b", "a"), ("a", "Z"), ("x", "y")], "id_a string, id_b string"
    )
    local_s = {r.doc_id: r.component for r in connected_components(sdf).collect()}
    spark.conf.set("spark.beetle.cc.localPairsMax", "0")
    try:
        dist_s = {r.doc_id: r.component for r in connected_components(sdf).collect()}
    finally:
        spark.conf.unset("spark.beetle.cc.localPairsMax")
    assert local_s == dist_s and local_s["b"] == "Z"
