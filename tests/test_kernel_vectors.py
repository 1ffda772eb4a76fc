"""Pin vector kernels: OOV all-or-nothing encoding, embed
gather+mean+unit-norm, matmul scoring, mention chunking (SURVEY hard
part #2)."""

import numpy as np
import pytest

from duke_spark.fixtures.embedding import build_embedding
from duke_spark.kernel.vectors import (chunk_in_vocab_runs,
                                       score_against_classes, score_groups,
                                       unit_norm_rows)


@pytest.fixture(scope="module")
def emb():
    return build_embedding()


def test_unit_norm_rows():
    v = np.array([[3.0, 4.0], [0.0, 0.0]])
    out = unit_norm_rows(v)
    assert np.allclose(out[0], [0.6, 0.8])
    assert np.allclose(out[1], [0.0, 0.0])  # zero row preserved, no NaN


def test_in_vocab_all_or_nothing(emb):
    assert emb.in_vocab(["baseball", "player"])
    assert not emb.in_vocab(["baseball", "zzyzx"])
    assert not emb.in_vocab([""])


def test_encode_all_or_nothing(emb):
    """One OOV or empty word, or no word, drops the whole group; strings
    and token lists encode alike, padded to the longest kept group."""
    groups = ["baseball player", "baseball zzyzx", "", "guitar",
              "baseball  player"]
    ids, keep = emb.encode(groups)
    assert keep.tolist() == [True, False, False, True, False]
    b, p, g = (emb.vocab[w] for w in ("baseball", "player", "guitar"))
    assert ids.tolist() == [[b, p], [g, emb.pad]]
    ids2, keep2 = emb.encode([s.split(" ") for s in groups] + [[]])
    assert keep2.tolist() == keep.tolist() + [False]
    assert np.array_equal(ids2, ids)
    assert emb.encode([])[0].shape[0] == 0


def test_oov_id_never_gathers(emb):
    """An id matrix holding an OOV word (-1, as a failed lookup reads)
    raises in every gather instead of reading the matrix's last row; so
    does an id past the padding."""
    classes = emb.embed_groups([["musician"], ["river"]])
    for ids in (np.array([[emb.vocab["guitar"], -1]]),
                np.array([[emb.pad + 1]])):
        with pytest.raises(IndexError):
            score_groups(emb, ids, classes)
        with pytest.raises(IndexError):
            emb.embed(ids)
    with pytest.raises(KeyError):
        emb.embed_groups([["guitar", "zzyzx"]])


def test_embed_groups_mean_and_norm(emb):
    groups = [["baseball"], ["baseball", "player"]]
    vecs = emb.embed_groups(groups)
    assert vecs.shape == (2, emb.dim)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    i, j = emb.vocab["baseball"], emb.vocab["player"]
    expect = (emb.matrix[i].astype(np.float64) + emb.matrix[j]) / 2
    expect = expect / np.linalg.norm(expect)
    assert np.allclose(vecs[1], expect, atol=1e-6)


def test_embed_groups_empty(emb):
    assert emb.embed_groups([]).shape == (0, emb.dim)


def test_score_is_cosine(emb):
    g = emb.embed_groups([["guitar", "song"]])
    c = emb.embed_groups([["musician"], ["river"]])
    s = score_against_classes(g, c)
    # manual cosine
    cos = float(g[0] @ c[0] / (np.linalg.norm(g[0]) * np.linalg.norm(c[0])))
    assert s[0, 0] == pytest.approx(cos, abs=1e-5)
    assert s.shape == (1, 2)


def test_chunk_runs(emb):
    v = emb.vocab
    toks = ["baseball", "player", "zzyzx", "guitar", "", "song"]
    assert chunk_in_vocab_runs(toks, v) == [["baseball", "player"],
                                            ["guitar"], ["song"]]
    # max_len split: 4 consecutive in-vocab tokens → [3, 1]
    toks4 = ["baseball", "player", "guitar", "song"]
    assert chunk_in_vocab_runs(toks4, v) == [["baseball", "player", "guitar"],
                                             ["song"]]
    assert chunk_in_vocab_runs([], v) == []
    assert chunk_in_vocab_runs(["zzyzx"], v) == []


def test_vocab_embedding_deterministic():
    a = build_embedding()
    b = build_embedding()
    assert np.array_equal(a.matrix, b.matrix)
    assert a.vocab == b.vocab
