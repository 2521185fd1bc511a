"""Self-tests of the benchmark's generator, oracle and percentile helper
(no Spark needed): ``python3 -m pytest perfbench/tests -q``."""

import math
from collections import namedtuple

import pytest

from perfbench import gen
from perfbench.oracle import Oracle, within_edits
from perfbench.stats import percentile

Tok = namedtuple("Tok", "term pos_inc")


def _split(text):
    return [Tok(w, 1) for w in text.split()]


def _queries(seed, skewed):
    rows = gen.corpus(seed, 30)
    qg = gen.QueryGen(seed, rows, skewed=skewed, stream="t")
    it = qg.mixed(("bm25", "boolean", "fuzzy", "phrase"))
    return [next(it) for _ in range(40)]


def test_same_seed_same_bytes_other_seed_differs():
    a, b, c = gen.corpus(7, 50), gen.corpus(7, 50), gen.corpus(8, 50)
    assert repr(a).encode() == repr(b).encode()
    assert repr(a) != repr(c)
    for skewed in (False, True):
        qa, qb, qc = (_queries(s, skewed) for s in (7, 7, 8))
        assert repr(qa).encode() == repr(qb).encode()
        assert repr(qa) != repr(qc)


def test_corpus_parts_have_their_own_vocabulary():
    assert gen.corpus(gen.part_seed(7, 0), 50) == gen.corpus(7, 50)
    a, b = (gen.corpus(gen.part_seed(7, p), 50) for p in (1, 2))
    assert a == gen.corpus(gen.part_seed(7, 1), 50)
    words = [set(gen.Vocabulary(gen.part_seed(7, p)).words)
             for p in (0, 1, 2)]
    assert len(words[0]) == gen.N_WORDS
    assert len(words[1] & words[2]) < gen.N_WORDS / 20
    assert len(words[0] & words[1]) < gen.N_WORDS / 20
    assert a != b


def test_corpus_rows_have_unique_keys_and_schema():
    rows = gen.corpus(3, 400)
    assert all(len(r) == 5 for r in rows)
    assert len({(r[0], r[1]) for r in rows}) == len(rows)
    avg = sum(len(r[4]) for r in rows) / len(rows)
    assert 1000 < avg < 2000


def test_oracle_hand_computed_bm25_topk():
    rows = [("r", "a", "", "", "apple banana"),
            ("r", "b", "", "", "apple apple cherry"),
            ("r", "c", "", "", "banana cherry cherry date")]
    o = Oracle(rows, _split)
    assert (o.n_docs, o.avgdl) == (3, 3.0)
    idf = math.log(1.6)                    # ln(1 + (3-2+0.5)/(2+0.5))
    got = o.bm25("apple", k=2)
    assert [d for d, _ in got] == [1, 0]
    assert got[0][1] == pytest.approx(idf * 4.4 / 3.2)
    assert got[1][1] == pytest.approx(idf * 2.2 / 1.9)
    got = o.bm25("cherry banana", k=2)
    assert [d for d, _ in got] == [2, 0]
    assert got[0][1] == pytest.approx(idf * (2.2 / 2.5 + 4.4 / 3.5))
    assert got[1][1] == pytest.approx(idf * 2.2 / 1.9)


def test_oracle_phrase_and_tree():
    rows = [("r", "a", "", "", "red fox jumps"),
            ("r", "b", "", "", "fox red jumps"),
            ("r", "c", "", "", "red red fox")]
    o = Oracle(rows, _split)
    assert o.phrase_docs("red fox") == {0, 2}
    tree = ("node", (("term", "red"),), (("term", "jumps"),),
            (("phrase", "red fox jumps"),))
    assert {d for d, _ in o.boolean(tree)} == {1, 2}


def test_edit_distance_matches_full_dynamic_programme():
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["kitten", "sitting", "sittin", "kitchen", "mitten", "kit", ""]
    for a in words:
        for b in words:
            for d in (1, 2):
                want = lev(a, b)
                assert within_edits(a, b, d) == (want if want <= d else None)


def test_topk_check_allows_swaps_only_at_the_kth_tie():
    full = [(5, 3.0), (1, 2.0), (2, 2.0), (9, 1.0)]
    assert Oracle.same_topk([(5, 3.0), (2, 2.0)], full, 2)
    assert not Oracle.same_topk([(5, 3.0), (9, 1.0)], full, 2)
    assert not Oracle.same_topk([(1, 2.0), (2, 2.0)], full, 2)


def test_percentile_refuses_without_ten_samples_beyond():
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(1, 101)), 0.9) == 90
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9
    with pytest.raises(ValueError):
        percentile([1.0], 1.0)
