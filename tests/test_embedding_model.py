"""Real embedding-model loading + SparkFiles/mmap executor distribution
(SURVEY §4 item 1; reference load at ``Duke/embedding.py:7-17``)."""

import os
import pickle

import numpy as np
import pytest

from duke_spark.sources.embedding_model import (MmapLinkContext, load_model,
                                                load_npz,
                                                load_word2vec_text,
                                                mmap_link_context,
                                                save_distributable)


def _write_w2v_text(path, vocab, matrix, header=True):
    with open(path, "w", encoding="utf-8") as f:
        if header:
            f.write(f"{len(vocab)} {matrix.shape[1]}\n")
        for w, row in zip(vocab, matrix):
            f.write(w + " " + " ".join(f"{x:.6f}" for x in row) + "\n")


@pytest.fixture(scope="module")
def small_model():
    from duke_spark.fixtures.embedding import embedding_arrays
    return embedding_arrays()


def test_word2vec_text_roundtrip(tmp_path, small_model):
    vocab, matrix = small_model
    p = str(tmp_path / "model.txt")
    _write_w2v_text(p, vocab, matrix)
    v2, m2 = load_word2vec_text(p)
    assert v2 == list(vocab)
    np.testing.assert_allclose(m2, matrix, atol=1e-6)


def test_word2vec_text_no_header_and_malformed(tmp_path):
    p = str(tmp_path / "glove.txt")
    with open(p, "w") as f:
        f.write("alpha 1.0 2.0 3.0\n")
        f.write("broken 1.0 2.0\n")         # wrong dim → skipped
        f.write("beta 4.0 5.0 6.0\n")
    vocab, matrix = load_word2vec_text(p)
    assert vocab == ["alpha", "beta"]
    assert matrix.shape == (2, 3)


def test_npz_roundtrip(tmp_path, small_model):
    vocab, matrix = small_model
    p = str(tmp_path / "model.npz")
    np.savez(p, vocab=np.asarray(vocab), matrix=matrix)
    v2, m2 = load_npz(p)
    assert v2 == list(vocab)
    np.testing.assert_array_equal(m2, matrix)


def test_distributable_layout_is_mmapped(tmp_path, small_model):
    vocab, matrix = small_model
    vp, mp = save_distributable(vocab, matrix, str(tmp_path), name="m")
    v2, m2 = load_model(mp)
    assert v2 == list(vocab)
    assert isinstance(m2, np.memmap)  # true lazy mapping, not a heap copy
    np.testing.assert_array_equal(np.asarray(m2), matrix)


def test_mmap_context_linking_parity(spark, tiny_transcripts, ctx_bc,
                                     tmp_path, small_model):
    """MmapLinkContext (SparkFiles+mmap) produces byte-identical mentions
    to the broadcast LinkContext built from the same model."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.operators.mentions import linked_mentions

    vocab, matrix = small_model
    p = str(tmp_path / "fixture_model.txt")
    _write_w2v_text(p, vocab, matrix)
    bc = mmap_link_context(spark, p, mini_tree(),
                           work_dir=str(tmp_path / "dist"))

    key = ["conv_id", "turn_idx", "mention_id"]
    got = (linked_mentions(tiny_transcripts, bc).toPandas()
           .sort_values(key).reset_index(drop=True))
    exp = (linked_mentions(tiny_transcripts, ctx_bc).toPandas()
           .sort_values(key).reset_index(drop=True))
    # float32 text round-trip at 6 decimals can perturb the last ulp of
    # scores; mention segmentation + entity choice must be identical
    import pandas as pd
    pd.testing.assert_frame_equal(
        got.drop(columns=["entity_score"]),
        exp.drop(columns=["entity_score"]))
    np.testing.assert_allclose(got["entity_score"], exp["entity_score"],
                               atol=1e-5)


def test_mmap_context_big_matrix(spark, tmp_path):
    """GB-scale path: a >500 MB matrix is distributed without ever being
    pickled — the broadcast stays tiny and executors score through the
    SparkFiles mmap."""
    n_words, dim = 1_050_000, 128  # 1.05M × 128 × 4B ≈ 537 MB
    vocab_path = str(tmp_path / "big.vocab.txt")
    matrix_path = str(tmp_path / "big.npy")
    with open(vocab_path, "w") as f:
        for i in range(n_words):
            f.write(f"w{i}\n")
    mat = np.lib.format.open_memmap(matrix_path, mode="w+",
                                    dtype=np.float32,
                                    shape=(n_words, dim))
    chunk = 1 << 16
    for start in range(0, n_words, chunk):
        stop = min(start + chunk, n_words)
        # deterministic, nonzero, row-dependent fill — cheap to generate
        rows = np.arange(start, stop, dtype=np.float32)[:, None]
        mat[start:stop] = (rows % 97 + 1) / 97.0 + \
            np.arange(dim, dtype=np.float32)[None, :] / dim
    mat.flush()
    del mat
    assert os.path.getsize(matrix_path) > 500 * 1024 * 1024

    tree = {"w1": {"parents": [], "children": ["w2"]},
            "w2": {"parents": ["w1"], "children": []}}
    bc = mmap_link_context(spark, matrix_path, tree)

    # the shipped context must not carry the matrix
    assert len(pickle.dumps(bc.value)) < 1_000_000

    # executors resolve the mmap and score a real batch
    import pandas as pd
    from duke_spark.fixtures.transcripts import spark_transcripts
    from duke_spark.operators.mentions import linked_mentions
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1", "c2"],
        "turn_idx": np.array([0, 1, 0], dtype=np.int32),
        "role": ["user", "assistant", "user"],
        "text": ["w1 w2 w999999", "zzz-not-in-vocab w2", "w1048575 w3"],
        "tool": [None, None, None],
        "ts": pd.to_datetime(["2026-01-01"] * 3),
    })
    out = (linked_mentions(spark_transcripts(spark, pdf), bc)
           .toPandas().sort_values(["conv_id", "turn_idx", "mention_id"]))
    # every in-vocab run surfaced; entities come from the 2-class tree
    assert len(out) == 3
    assert set(out["entity"]) <= {"w1", "w2"}
    mentions = set(out["mention"])
    assert "w1 w2 w999999" in mentions          # 3-token in-vocab chunk
    assert "w2" in mentions                     # OOV word broke the run
    assert "w1048575 w3" in mentions            # tail of the mmap reached


def test_repeated_word_resolves_to_first_vector(tmp_path, small_model,
                                                tiny_transcripts_pdf):
    """A word2vec text file that lists every word twice (the second time
    with another vector) links like the file without the repeats: each
    word maps to its FIRST vector, as gensim's loader keeps the first,
    and ``link_batch`` equals ``oracle_mentions`` on it."""
    import pandas as pd

    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.kernel.oracle import OracleContext, oracle_mentions
    from duke_spark.kernel.vectors import VocabEmbedding
    from duke_spark.operators.linking import LinkContext, link_batch

    vocab, matrix = small_model
    once, twice = str(tmp_path / "once.txt"), str(tmp_path / "twice.txt")
    _write_w2v_text(once, vocab, matrix)
    _write_w2v_text(twice, list(vocab) * 2,
                    np.vstack([matrix, matrix[::-1]]))
    v1, m1 = load_word2vec_text(once)
    v2, m2 = load_word2vec_text(twice)
    assert len(v2) == 2 * len(v1)

    ctx = LinkContext(v2, m2, mini_tree())
    w = vocab[0]
    assert ctx.embedding.vocab[w] == 0
    assert ctx.embedding.encode([w])[0].tolist() == [[0]]

    got = link_batch(tiny_transcripts_pdf, ctx)
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got, link_batch(tiny_transcripts_pdf, LinkContext(v1, m1,
                                                          mini_tree())),
        check_exact=True)
    exp = oracle_mentions(OracleContext(VocabEmbedding(v2, m2),
                                        mini_tree()), tiny_transcripts_pdf)
    cols = ["conv_id", "turn_idx", "mention_id", "mention", "entity"]
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)
    np.testing.assert_allclose(got["entity_score"], exp["entity_score"],
                               rtol=0, atol=1e-12)
