"""End-to-end: build index over the synthetic graft corpus, query it, and
assert rank-identity + score equality vs the pure-Python BM25F oracle
(SURVEY.md §5.2.2), plus resume and per-row-invariant checks."""

import json
import os

import pytest

from beetle_search_engine_spark.config import BM25Params, EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import BM25Index
from beetle_search_engine_spark.sources.corpus import generate_corpus, verify_content_sha

from .oracle import assert_rank_identical, bm25_oracle

N_DOCS = 300
FIELDS = {"title": "path", "body": "content"}
# tiny layout so 300 docs exercise multi-chunk, multi-block, salting paths
CFG = EngineConfig(
    bm25=BM25Params(),
    index=IndexConfig(
        n_buckets=8,
        block_size=16,
        blocks_per_row=4,
        chunk_docs=64,
        hot_df_threshold=60,
        hot_salts=4,
        encode_partitions=8,
        bucket_groups=2,
    ),
)

QUERIES = [
    "transformer models",          # the reference's smoke queries
    "transformer models for NLP",  # (search_bm25.py:48, search_splade.py:94)
    "spark partition shuffle",
    "def class return value",
    "search rank score",
    "file_7.py",                   # title (path) field hit, interior-dot token
    "query",
    "no_such_term_anywhere_xyz",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx"))
    corpus = generate_corpus(spark, N_DOCS, seed=7)
    metrics = build_index(spark, corpus, idx, fields=FIELDS, cfg=CFG, meta_cols=("repo", "path"))
    rows = corpus.select("doc_id", "path", "content").collect()
    docs = [r.asDict() for r in rows]
    return idx, metrics, docs, corpus


def test_per_row_invariant(spark, built):
    _, _, _, corpus = built
    assert verify_content_sha(corpus) == 0


def test_build_metrics_sane(built):
    _, m, docs, _ = built
    assert m["n_docs"] == N_DOCS
    assert m["postings"] > N_DOCS  # way more postings than docs
    assert m["n_hot_terms"] > 0    # Zipf head detected -> salting exercised
    assert m["groups_built"] == 2 and m["groups_skipped"] == 0


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_rank_identical_vs_oracle(spark, built, mode, local):
    idx, _, docs, _ = built
    index = BM25Index(spark, idx)
    for q in QUERIES:
        got = [
            (r["doc_id"], r["score"])
            for r in index.search(q, top_k=10, mode=mode, prefer_local=local).collect()
        ]
        want = bm25_oracle(docs, q, FIELDS, top_k=10, mode=mode)
        assert_rank_identical(got, want)


FIELDED_QUERIES = [
    "title:file_7.py query",        # field-restricted term + bare term
    "spark NOT shuffle",            # NOT keyword
    "query -partition scan",        # -term prefix
    "search OR rank NOT score",     # OR with exclusion
    "title:query",                  # restriction empties most matches
    "body:spark title:file_7.py",   # both fields restricted
    "spark NOT spark",              # excluded == required -> empty
]


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_fielded_and_not_vs_oracle(spark, built, local):
    """field:term restriction + NOT exclusion, rank-identical to the
    pure-Python oracle on both kernel paths (parser semantics pinned by
    test_phrase_parser; here the parse result drives both sides)."""
    from beetle_search_engine_spark.functions.analyzer import get_analyzer
    from beetle_search_engine_spark.plans.parser import parse_query

    idx, _, docs, _ = built
    index = BM25Index(spark, idx)
    analyzer = get_analyzer("whoosh")
    for q in FIELDED_QUERIES:
        pq = parse_query(q, analyzer, fields=set(FIELDS))
        got = [
            (r["doc_id"], r["score"])
            for r in index.search(q, top_k=10, mode="parse", prefer_local=local).collect()
        ]
        want = bm25_oracle(
            docs, "", FIELDS, top_k=10, mode=pq.mode,
            fielded=pq.fielded, excluded=pq.excluded, terms=pq.terms,
        )
        assert_rank_identical(got, want)


def test_not_actually_excludes(spark, built):
    """Sanity beyond rank-identity: every NOT result really lacks the
    excluded term, and the query returns fewer-or-different docs."""
    idx, _, docs, _ = built
    index = BM25Index(spark, idx)
    base = {r["doc_id"] for r in index.search("spark", 10, "parse").collect()}
    negd = {r["doc_id"] for r in index.search("spark NOT shuffle", 10, "parse").collect()}
    from beetle_search_engine_spark.functions.analyzer import analyze

    by_id = {d["doc_id"]: d for d in docs}
    for did in negd:
        toks = set(analyze(by_id[did]["content"])) | set(analyze(by_id[did]["path"]))
        assert "shuffl" not in toks  # Porter stem of 'shuffle'
    assert negd != base or not base


def test_empty_query(spark, built):
    idx, _, _, _ = built
    index = BM25Index(spark, idx)
    assert index.search("the a an", top_k=10).count() == 0  # all stopwords


def test_prestaged_build_matches_staged(spark, built, tmp_path):
    """Zero-copy staging (input parquet files ARE the stage) produces an
    index with identical search results and corpus stats as the rewrite
    path — docnum ASSIGNMENT may differ (file order vs hash order), but
    scores, ranks and df/avgdl are docnum-invariant."""
    import json as _json

    idx, _, docs, corpus = built
    src = str(tmp_path / "corpus_src")
    corpus.write.mode("overwrite").parquet(src)
    idx2 = str(tmp_path / "idx_prestaged")
    m = build_index(
        spark, spark.read.parquet(src), idx2, fields=FIELDS, cfg=CFG, prestaged=src
    )
    assert m["n_docs"] == N_DOCS
    # staging left no rewrite behind (zero-copy path actually taken)
    assert not os.path.exists(f"{idx2}/_stage/corpus")
    a = BM25Index(spark, idx)
    b = BM25Index(spark, idx2)
    assert a.stats["avgdl"] == b.stats["avgdl"]
    for q in QUERIES[:5]:
        ra = [(r["doc_id"], round(r["score"], 9)) for r in a.search(q, 10, "or").collect()]
        rb = [(r["doc_id"], round(r["score"], 9)) for r in b.search(q, 10, "or").collect()]
        assert ra == rb
    # docnums dense 0..N-1
    dn = sorted(r["docnum"] for r in spark.read.parquet(f"{idx2}/docids").collect())
    assert dn == list(range(N_DOCS))
    # the corpus identity (count + id xor) agrees across staging modes,
    # but the fingerprint's `parts` key pins the docnum ASSIGNMENT — the
    # two modes number docs differently, so a resume that switches modes
    # must read as a different corpus and rebuild (group manifests would
    # otherwise keep postings numbered under the other mode's docnums)
    with open(f"{idx2}/stats.json") as f:
        fp2 = _json.load(f)["fingerprint"]
    with open(f"{idx}/stats.json") as f:
        fp1 = _json.load(f)["fingerprint"]
    assert fp1["n_docs"] == fp2["n_docs"]
    assert fp1["id_hash_xor"] == fp2["id_hash_xor"]
    assert "parts" in fp1 and "parts" in fp2


def test_prestaged_handles_uri_encoded_filenames(spark, built, tmp_path):
    """A data file whose name percent-encodes in a URI (space) must still
    map to a pid: input_file_name() returns the ENCODED name, listStatus
    the raw one — url_decode aligns them (no null _pid crash)."""
    from beetle_search_engine_spark.operators.docnums import numbered, stage_corpus_prestaged

    _, _, _, corpus = built
    src = str(tmp_path / "corpus enc src")  # space in the DIRECTORY too
    corpus.write.mode("overwrite").parquet(src)
    # rename a data file to contain a space and a '#'
    part = next(f for f in os.listdir(src) if f.endswith(".parquet"))
    os.rename(f"{src}/{part}", f"{src}/part one#.parquet")
    h, offsets, fp = stage_corpus_prestaged(spark, src, id_col="doc_id")
    out = numbered(h, offsets, columns=["doc_id"])
    dn = sorted(r["docnum"] for r in out.collect())
    assert dn == list(range(N_DOCS))


def test_resume_skips_completed_groups(spark, built):
    idx, _, _, corpus = built
    m2 = build_index(spark, corpus, idx, fields=FIELDS, cfg=CFG, meta_cols=("repo", "path"))
    assert m2["groups_built"] == 0
    assert m2["groups_skipped"] == 2


def test_resume_rebuilds_on_corpus_change(spark, built, tmp_path):
    idx, _, _, _ = built
    # different corpus -> fingerprint mismatch -> full rebuild
    other = generate_corpus(spark, 50, seed=9)
    idx2 = str(tmp_path / "idx2")
    os.makedirs(idx2, exist_ok=True)
    # seed manifests from the old index to simulate a stale checkpoint
    os.makedirs(f"{idx2}/_manifest", exist_ok=True)
    with open(f"{idx}/_manifest/group_0.json") as f:
        stale = json.load(f)
    with open(f"{idx2}/_manifest/group_0.json", "w") as f:
        json.dump(stale, f)
    m = build_index(spark, other, idx2, fields=FIELDS, cfg=CFG)
    assert m["groups_built"] == 2  # stale manifest ignored (fingerprint mismatch)


def test_failed_tokenize_joins_docids_write(spark, tmp_path, monkeypatch):
    """Fault injection: a tokenize stage whose write job fails must not
    leak the docids write overlapped on a helper thread — the build
    raises the tokenize error with no Spark job left running and the
    helper pool shut down."""
    import concurrent.futures as cf

    from pyspark.sql import functions as F

    from beetle_search_engine_spark.operators import build as B

    pools = []

    class RecordingPool(cf.ThreadPoolExecutor):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            pools.append(self)

    def failing_tokenize(df, *a, **kw):
        return df.select(F.raise_error(F.lit("injected tokenize failure")).alias("term"))

    monkeypatch.setattr(cf, "ThreadPoolExecutor", RecordingPool)
    monkeypatch.setattr(B, "tokenize", failing_tokenize)
    corpus = generate_corpus(spark, 50, seed=9)
    with pytest.raises(Exception, match="injected tokenize failure"):
        build_index(spark, corpus, str(tmp_path / "idx"), fields=FIELDS, cfg=CFG)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert len(pools) == 1 and pools[0]._shutdown
    assert not any(t.is_alive() for t in pools[0]._threads)


def test_field_group_matches_distributed_spelling(spark, built):
    """field:(...) groups (round 5) are a textual distribution: results
    must be IDENTICAL to the hand-expanded spelling, whose paths are
    oracle-verified above."""
    idx, _, _, _ = built
    index = BM25Index(spark, idx)
    pairs = [
        ("title:(file_7.py OR file_8.py) query", "(title:file_7.py OR title:file_8.py) query"),
        ("title:(file_7.py query)", "title:file_7.py title:query"),
        ("body:(spark shuffle) rank", "body:spark body:shuffle rank"),
        ("title:(file_7.py -spark)", "title:file_7.py -spark"),
    ]
    for grouped, expanded in pairs:
        got = [(r["doc_id"], r["score"]) for r in index.search(grouped, 10, "parse").collect()]
        want = [(r["doc_id"], r["score"]) for r in index.search(expanded, 10, "parse").collect()]
        assert got == want, grouped


def test_every_star_matches_all(spark, built):
    """'*' (Whoosh EveryPlugin, round 5): all docs at score 1.0; '* NOT x'
    is x's complement; batch mode answers '*' identically to search()."""
    idx, _, docs, _ = built
    index = BM25Index(spark, idx)
    res = index.search("*", N_DOCS + 10, "parse").collect()
    assert len(res) == N_DOCS
    assert all(r.score == 1.0 for r in res)
    ids = [r.doc_id for r in res]
    assert ids == sorted(ids)
    has = {r.doc_id for r in index.search("spark", N_DOCS, "or").collect()}
    ex = {r.doc_id for r in index.search("* NOT spark", N_DOCS, "parse").collect()}
    assert ex == set(ids) - has
    b = index.search_many({"qe": "*", "qa": "spark"}, 5, "parse").collect()
    got = [(r.doc_id, r.score) for r in b if r.query_id == "qe"]
    want = [(r.doc_id, r.score) for r in index.search("*", 5, "parse").collect()]
    assert got == want
    got_a = [(r.doc_id, round(r.score, 9)) for r in b if r.query_id == "qa"]
    want_a = [
        (r.doc_id, round(r.score, 9))
        for r in index.search("spark", 5, "parse").collect()
    ]
    assert got_a == want_a


def test_every_or_chain(spark, built):
    """'* OR x' (Whoosh Or(Every, x)): every live doc matches; x-docs add
    their BM25F score to Every's 1.0, the rest pad at 1.0 by lowest id."""
    idx, _, docs, _ = built
    index = BM25Index(spark, idx)
    res = index.search("* OR spark", N_DOCS + 10, "parse").collect()
    assert len(res) == N_DOCS  # the whole corpus matches
    sub = {r.doc_id: r.score for r in index.search("spark", N_DOCS, "parse").collect()}
    for r in res:
        want = 1.0 + sub.get(r.doc_id, 0.0)
        assert abs(r.score - want) < 1e-9, (r.doc_id, r.score, want)
    # matching docs outrank the 1.0 floor, floor ties break by doc_id
    scores = [r.score for r in res]
    assert scores == sorted(scores, reverse=True)
    floor = [r.doc_id for r in res if r.score == 1.0]
    assert floor == sorted(floor)
    # top-k cut: k smaller than the match count -> exactly sub's own
    # top-k (the engine's score-desc/docnum-asc order) shifted by +1
    k = 3
    top = [(r.doc_id, r.score) for r in index.search("* OR spark", k, "parse").collect()]
    want_top = [
        (r.doc_id, 1.0 + r.score)
        for r in index.search("spark", k, "parse").collect()
    ]
    assert top == want_top


def test_expansion_with_require_keeps_the_gate(spark, built):
    """'sc* REQUIRE spark': _expand_prefixes must route to the group
    kernel — kernel_or never reads filter_terms, so the old mode='or'
    pick silently dropped the REQUIRE gate."""
    idx, _, _, _ = built
    index = BM25Index(spark, idx)
    got = {r.doc_id: r.score for r in index.search("sc* REQUIRE spark", 50, "parse").collect()}
    assert got, "expansion matched nothing — pick a different prefix"
    spark_docs = {r.doc_id for r in index.search("spark", N_DOCS, "or").collect()}
    assert set(got) <= spark_docs  # the gate held
    # REQUIRE operands never score: scores equal the expansion-only query
    base = {r.doc_id: r.score for r in index.search("sc*", N_DOCS, "parse").collect()}
    for d, s in got.items():
        assert abs(s - base[d]) < 1e-9


def test_expansion_with_andmaybe_keeps_optional_scoring(spark, built):
    """'sc* ANDMAYBE spark': matches sc* docs regardless of spark; docs
    containing spark score higher (mode='or' dropped maybe_terms)."""
    idx, _, _, _ = built
    index = BM25Index(spark, idx)
    got = {r.doc_id: r.score for r in index.search("sc* ANDMAYBE spark", N_DOCS, "parse").collect()}
    base = {r.doc_id: r.score for r in index.search("sc*", N_DOCS, "parse").collect()}
    assert set(got) == set(base)  # maybe operand never gates
    spark_docs = {r.doc_id for r in index.search("spark", N_DOCS, "or").collect()}
    bumped = [d for d in got if d in spark_docs]
    assert bumped, "corpus has no sc*+spark doc — weak test"
    for d in got:
        if d in spark_docs:
            assert got[d] > base[d] + 1e-12
        else:
            assert abs(got[d] - base[d]) < 1e-9


def test_fielded_expansion_does_not_narrow_bare_term(spark, built):
    """'spark title:spar*': the title-fielded expansion contains the
    stored term 'spark', which also rides the query as a BARE required
    term — writing the expansion's field onto the shared fielded map
    narrowed the bare term to title-only and emptied the result."""
    idx, _, _, _ = built
    index = BM25Index(spark, idx)
    base = [(r.doc_id, round(r.score, 9)) for r in index.search("spark", 20, "or").collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in index.search("spark title:spar*", 20, "parse").collect()]
    assert got == base  # titles contain no spar* term; the group's one
    # member is the bare term itself, scored once, any field
