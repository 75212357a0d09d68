"""Seeded generators: the same seed gives the same inputs, another seed
gives other inputs, and the mixes the workloads rely on hold."""
from perfbench import gen


def test_corpus_same_seed_same_rows():
    assert gen.corpus_rows(3, 300) == gen.corpus_rows(3, 300)


def test_corpus_other_seed_other_rows():
    assert gen.corpus_rows(3, 300)["text"] != gen.corpus_rows(4, 300)["text"]


def test_corpus_batches_have_fresh_keys():
    a = gen.corpus_rows(3, 100)
    b = gen.corpus_rows(3, 100, first_turn=100)
    keys = set(zip(a["conv_id"], a["turn_idx"]))
    assert len(keys) == 100
    assert keys.isdisjoint(zip(b["conv_id"], b["turn_idx"]))


def test_corpus_has_empty_turns_and_rare_tokens():
    cols = gen.corpus_rows(5, 2000)
    assert 0 < len(cols["text"]) - gen.non_empty(cols) < 100
    rare = gen.rare_terms(cols)
    assert len(rare) == 5 * gen.non_empty(cols)
    assert all(w[0] in "uv" and len(w) == 8 for w in rare)


def test_query_streams_are_seeded():
    rare = gen.rare_terms(gen.corpus_rows(1, 200))
    for make in (lambda s: gen.hot_queries(s, 50),
                 lambda s: gen.tail_queries(s, 50, rare),
                 lambda s: gen.engine_queries(s, rare),
                 lambda s: gen.engine_queries(s, rare, tail=True)):
        assert make(7) == make(7)
        assert make(7) != make(8)


def test_query_mix_is_the_same_for_every_seed():
    def mix(qs):
        return [(q[0], sorted(q[2]), sorted(q[1][0])
                 if isinstance(q[1][0], dict) else None) for q in qs]
    assert mix(gen.hot_queries(1, 48)) == mix(gen.hot_queries(2, 48))
    rare = gen.rare_terms(gen.corpus_rows(1, 200))
    assert mix(gen.tail_queries(1, 48, rare)) == \
        mix(gen.tail_queries(2, 48, rare))


def test_hot_queries_stay_in_base_vocabulary():
    vocab = set(gen.BASE_VOCAB)
    for method, args, _kw in gen.hot_queries(9, 200):
        q = args[0]["query"] if method == "search" else args[0]
        if method == "search" and (args[0].get("fuzzy")
                                   or args[0].get("prefix")):
            continue
        assert set(q.split()) <= vocab


def test_tail_engine_phrase_prefix_matches_a_turn():
    cols = gen.corpus_rows(2, 500)
    rare = gen.rare_terms(cols)
    texts = [" " + t + " " for t in cols["text"]]
    for seed in range(20):
        qs = gen.engine_queries(seed, rare, tail=True)
        assert len(qs) == len({q[0] for q in qs}) == 6
        for q in qs:
            if q[0].startswith("phrase_prefix."):
                *exact, prefix = q[2][0].split()
                assert len(exact) == 2 and len(prefix) == 4
                assert any(f" {' '.join(exact)} {prefix}" in t
                           for t in texts)


def test_corpus_has_the_documents_table_shape():
    cols = gen.corpus_rows(6, 3000)
    texts = [t for t in cols["text"] if t.strip()]
    base = [[w for w in t.split()[:-6]] for t in texts]
    assert min(map(len, base)) >= gen.MIN_WORDS
    assert max(map(len, base)) <= gen.MAX_WORDS + 1
    assert 330 < sum(len(t) for t in texts) / len(texts) < 370
    assert 0.03 < sum(b[-1] == gen.DUP for b in base) / len(base) < 0.07
    for w in gen.WORDS:
        assert 0.70 < sum(w in b for b in base) / len(base) < 0.85
