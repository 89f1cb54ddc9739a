import numpy as np
import pytest

from perfbench import datagen


def _ids(tables):
    return (tables["documents"].column("doc_id").to_pylist(),
            tables["embeddings"].column("vec_id").to_pylist())


def test_same_seed_gives_the_same_rows_in_the_same_order():
    a = _ids(datagen.corpus(np.random.default_rng(7), 400))
    b = _ids(datagen.corpus(np.random.default_rng(7), 400))
    assert a == b
    assert a != _ids(datagen.corpus(np.random.default_rng(8), 400))


def test_whole_corpus_is_sf01_in_a_seeded_order():
    docs, vecs = _ids(datagen.corpus(np.random.default_rng(1), None))
    assert sorted(docs) == list(range(5000)) and sorted(vecs) == list(range(2000))
    assert docs != sorted(docs)


def test_sample_keeps_the_vector_pairing_and_share():
    docs, vecs = _ids(datagen.corpus(np.random.default_rng(3), 400))
    assert len(docs) == len(set(docs)) == 400
    assert len(vecs) == 160 and set(vecs) <= set(docs)
    assert set(vecs) == {d for d in docs if d < 2000}


def test_a_changed_data_file_is_refused(monkeypatch):
    monkeypatch.setitem(datagen.SF01_SHA256, "documents", "0" * 64)
    with pytest.raises(ValueError, match="sha256"):
        datagen.sf01_table("documents")
