import random

import pytest

from perfbench.inputs import KINDS, MAX_PREFIX_TOKENS, Vocab, id_query, make_queries

_WORDS = "def class return import value result data table query index spark shuffle token filter".split()


def _docs(seed: int, n: int = 60) -> list[dict]:
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        words = [rng.choice(_WORDS) for _ in range(rng.randint(5, 30))]
        words += [f"fn_{rng.randrange(50)}", f"var_{rng.randrange(90)}", f"cls_{rng.randrange(20)}"]
        docs.append({
            "doc_id": f"{i:04x}",
            "path": f"src/module_{i % 7}/file_{i}.py",
            "content": " ".join(words),
        })
    return docs


def _stop_free(word: str) -> list[str]:
    return [] if word in {"def", "return"} else [word]


@pytest.mark.parametrize("kind", KINDS)
def test_query_stream_is_a_function_of_corpus_seed_and_kind(kind):
    a = make_queries(Vocab(_docs(1), _stop_free), 7, 30, kind)
    assert a == make_queries(Vocab(_docs(1), _stop_free), 7, 30, kind)
    assert a != make_queries(Vocab(_docs(1), _stop_free), 8, 30, kind)
    assert a != make_queries(Vocab(_docs(2), _stop_free), 7, 30, kind)


def test_queries_never_repeat_and_avoid_what_is_taken():
    v = Vocab(_docs(3), _stop_free)
    qs = make_queries(v, 11, 200, "head")
    assert len(set(qs)) == len(qs) == 200
    more = make_queries(v, 12, 100, "head", avoid=frozenset(qs))
    assert not set(more) & set(qs)


def test_each_kind_has_its_shape():
    v = Vocab(_docs(3), _stop_free)
    one = {k: make_queries(v, 5, 20, k) for k in KINDS}
    assert all(set(q.split()) <= set(v.head) for q in one["head"])
    assert [len(q.split()) for q in one["head"]] == [2, 3, 4] * 6 + [2, 3]
    assert all(q.split()[0].startswith(("fn_", "var_", "cls_")) for q in one["tail"])
    assert all(q.startswith('"') and q.endswith('"') for q in one["phrase"])
    assert all("* " in q for q in one["prefix"])
    assert all(" NOT " in q for q in one["not"])
    assert all(q.startswith("title:module_") for q in one["title"])
    with pytest.raises(ValueError):
        make_queries(v, 5, 1, "fuzzy")


def test_prefix_queries_expand_to_few_tokens():
    docs = _docs(6, n=100)  # 100 title tokens share the prefix "fil"
    v = Vocab(docs, _stop_free)
    assert "filter" in v.head and "filt" in v.prefixes and "fil" not in v.prefixes
    assert v.n_with_prefix("file_") == len(docs)
    for q in make_queries(v, 3, 40, "prefix"):
        p = q.split("*")[0]
        assert len(p) >= 3 and v.n_with_prefix(p) <= MAX_PREFIX_TOKENS


def test_vocab_drops_words_the_analyzer_removes():
    v = Vocab(_docs(4), _stop_free)
    assert "def" not in v.head and "return" not in v.head
    assert all(not w.startswith(("fn_", "var_", "cls_")) for w in v.head)
    assert v.rare and all(w.startswith(("fn_", "var_", "cls_")) for w in v.rare)
    assert all(_stop_free(a) and _stop_free(b) for a, b in v.pairs)


def test_too_small_a_vocabulary_is_an_error():
    with pytest.raises(ValueError):
        make_queries(Vocab(_docs(5, n=2), _stop_free), 1, 10_000, "title")


def test_id_query_is_the_file_name():
    assert id_query("src/module_3/file_2612.py") == "file_2612.py"
