"""Generator determinism per seed and the ground truth they emit."""

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def test_vector_inputs_repeat_per_seed_and_differ_across_seeds():
    a, b = gen.vector_corpus(7, 500), gen.vector_corpus(7, 500)
    assert all(np.array_equal(x, y) for x, y in zip(vars(a).values(), vars(b).values()))
    c = gen.vector_corpus(8, 500)
    assert not np.array_equal(a.vecs, c.vecs)
    assert sorted(a.ids.tolist()) == list(range(500))


def test_append_batch_marker_outranks_every_other_row():
    corpus = gen.vector_corpus(3, 2000)
    b = gen.append_batch(3, 0, 2000, 100, corpus.centers, 4.0)
    again = gen.append_batch(3, 0, 2000, 100, corpus.centers, 4.0)
    assert np.array_equal(b.vecs, again.vecs) and b.marker == again.marker
    m = b.vecs[b.marker].astype(np.float64)
    others = np.concatenate([corpus.vecs, np.delete(b.vecs, b.marker, axis=0)])
    assert (others.astype(np.float64) @ m).max() < m @ m


def test_doc_corpus_repeats_and_its_ground_truth_holds():
    a = gen.doc_corpus(5, 300)
    b = gen.doc_corpus(5, 300)
    assert a.texts == b.texts and np.array_equal(a.ids, b.ids)
    assert a.survivors == b.survivors and a.near_pairs == b.near_pairs
    assert gen.doc_corpus(6, 300).texts != a.texts
    # 300 originals + 30 exact copies + 30 near copies
    assert len(a.texts) == 360
    groups = {}
    for i, t in zip(a.ids.tolist(), a.texts):
        groups.setdefault(gen.normalize(t), []).append(i)
    assert a.survivors == {min(g) for g in groups.values()}
    assert len(a.survivors) == 330
    assert len(a.near_pairs) == 30
    assert all(lo < hi and {lo, hi} <= a.survivors for lo, hi in a.near_pairs)
    assert all(0.5 < j < 1 for j in a.near_jaccard.values())


def test_normalize_and_shingles_follow_the_engine_rules():
    assert gen.normalize("  Ab\tC\n d ") == "ab c d"
    assert gen.shingles("a b c d") == {"a b c", "b c d"}
    assert gen.shingles("A  b") == {"a b"}
    assert gen.shingles("   ") == frozenset()


def test_written_files_carry_the_engine_schema(tmp_path):
    c = gen.vector_corpus(1, 10, dim=4)
    gen.write_vectors(str(tmp_path / "v.parquet"), c.ids, c.vecs, c.labels)
    t = pq.read_table(tmp_path / "v.parquet")
    assert str(t.schema.field("embedding").type) == "list<element: float>"
    assert t["embedding"].to_pylist()[3] == c.vecs[3].tolist()
    gen.write_queries(str(tmp_path / "q.parquet"), gen.doc_queries(1, 3, 4))
    assert pq.read_table(tmp_path / "q.parquet").num_rows == 3
