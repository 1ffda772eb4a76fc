"""Vector kernels: word-group encoding, embedding, cosine scoring.

Reference semantics being reimplemented (not copied):
  * all-or-nothing OOV rule — a word-group survives only if EVERY word is
    in vocab (``Duke/embedding.py:41-44`` applied at ``:28-30``):
    ``VocabEmbedding.encode``, the one place a word becomes a vocab row;
  * word-group embedding = aggregation (default mean) of word vectors
    (``Duke/embedding.py:33-34``, ``Duke/utils.py:26-27``);
  * rows unit-normed so cosine == dot (``Duke/utils.py:22-23`` used at
    ``Duke/dataset.py:91`` and ``Duke/class_tree.py:32``);
  * scoring = one dense matmul of all group vectors against the class
    matrix (``Duke/dataset_descriptor.py:57``): ``score_groups``, float64.

Groups travel as vocab-id matrices, one group per row, right-padded with
``VocabEmbedding.pad``: the operators score, embed and take distinct groups
on integers, once per Arrow batch.
"""

from __future__ import annotations

from itertools import repeat
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np


class VocabEmbedding:
    """In-memory (vocab → row) float32 matrix, the broadcastable analogue of
    the reference's gensim model (``Duke/embedding.py:17``). ``vocab`` is
    the one word → row lookup: a repeated word keeps its FIRST row, as
    gensim's ``load_word2vec_format`` does, and the empty word is never in
    vocab."""

    def __init__(self, vocab: Sequence[str], matrix: np.ndarray):
        assert len(vocab) == matrix.shape[0]
        self.vocab: Dict[str, int] = {}
        for i, w in enumerate(vocab):
            self.vocab.setdefault(w, i)
        self.vocab.pop("", None)
        self.matrix = np.ascontiguousarray(matrix, dtype=np.float32)
        self.dim = matrix.shape[1]
        self.pad = matrix.shape[0]  # padding id: one past the last row

    def in_vocab(self, words: Iterable[str]) -> bool:
        """All-words-in-vocab rule (``Duke/embedding.py:41-44``)."""
        return all(w in self.vocab for w in words)

    def word_ids(self, words: Sequence[str]) -> np.ndarray:
        """Vocab row of each word; -1 for an OOV or empty word."""
        return np.fromiter(map(self.vocab.get, words, repeat(-1)),
                           dtype=np.int64, count=len(words))

    def encode(self, groups) -> Tuple[np.ndarray, np.ndarray]:
        """(ids, keep) of word groups — space-joined strings or token
        lists. ``keep`` marks the groups that survive the all-or-nothing
        OOV rule: one OOV or empty word, or no word at all, drops the
        whole group. ``ids`` holds the kept groups' vocab rows, one group
        per row in input order, right-padded with ``pad`` to the longest
        kept group."""
        if not len(groups):
            return np.zeros((0, 0), dtype=np.int64), np.zeros(0, dtype=bool)
        if not isinstance(groups[0], str):
            groups = [" ".join(g) for g in groups]
        lengths = np.fromiter(map(str.count, groups, repeat(" ")),
                              dtype=np.int64, count=len(groups)) + 1
        ids = self.word_ids(" ".join(groups).split(" "))
        owner = np.repeat(np.arange(len(groups)), lengths)
        keep = np.bincount(owner[ids < 0], minlength=len(groups)) == 0
        return pad_groups(ids[keep[owner]], lengths[keep], self.pad), keep

    def rows(self, ids: np.ndarray) -> np.ndarray:
        """``matrix[ids]``; an OOV id raises, never reading the last row."""
        if len(ids) and ids.min() < 0:
            raise IndexError(f"word id {ids.min()} is not a vocab row")
        return self.matrix[ids]

    def embed(self, ids: np.ndarray) -> np.ndarray:
        """Mean word vector per encoded group → unit-normed float32 rows
        (``Duke/utils.py:26-27``); scores use ``score_groups``."""
        if not len(ids):
            return np.zeros((0, self.dim), dtype=np.float32)
        real = ids != self.pad
        lengths = real.sum(axis=1)
        starts = np.concatenate(([0], np.cumsum(lengths[:-1])))
        sums = np.add.reduceat(self.rows(ids[real]), starts, axis=0)
        return unit_norm_rows(sums / lengths[:, None].astype(np.float32))

    def embed_groups(self, groups: Sequence[Sequence[str]]) -> np.ndarray:
        """``embed`` of word groups, each of which must be in vocab."""
        ids, keep = self.encode(groups)
        if not keep.all():
            raise KeyError("a word group has a word out of vocab")
        return self.embed(ids)


def pad_groups(flat: np.ndarray, lengths: np.ndarray,
               pad: int) -> np.ndarray:
    """Groups of ``lengths`` ids laid end to end in ``flat`` → one group per
    row, right-padded with ``pad`` to the longest."""
    k = lengths.max() if len(lengths) else 0
    out = np.full((len(lengths), k), pad, dtype=np.int64)
    out[np.arange(k) < lengths[:, None]] = flat
    return out


def unit_norm_rows(vectors: np.ndarray) -> np.ndarray:
    """L2-normalize rows (``Duke/utils.py:22-23``). Zero rows stay zero."""
    norms = np.linalg.norm(vectors, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return vectors / norms


def score_against_classes(group_vecs: np.ndarray,
                          class_matrix: np.ndarray) -> np.ndarray:
    """Embedded group rows · class rows in one float64 GEMM — the
    unfactored form ``perfbench`` times; production uses ``score_groups``."""
    return np.dot(group_vecs.astype(np.float64),
                  class_matrix.T.astype(np.float64))


def score_groups(embedding: VocabEmbedding, ids: np.ndarray,
                 class_matrix: np.ndarray) -> np.ndarray:
    """Cosine of every encoded word group (``VocabEmbedding.encode``)
    against every class row, float64 U×C: ``(Σ v_w)·c / ‖Σ v_w‖`` with
    the sum in float64 over the float32 word vectors; a zero-norm group
    scores 0 (as ``unit_norm_rows`` leaves zero rows). Of the two
    associations, the one with fewer operations runs: U groups of ≤k words
    over W distinct words cost D·W·(C+W) products, then k·U·(C+k) gathered
    adds through the word table, or k·U·D gathered adds, then D·U·C
    products direct. The choice depends on the call's U, W and k (the
    longest group), so a score can move with batching by rounding only:
    the two associations agree to 1e-12 with the same argmax
    (``test_score_groups_associations_agree``)."""
    n_cls, dim = class_matrix.shape
    if not len(ids):
        return np.zeros((0, n_cls))
    vecs, pos = _word_positions(embedding, ids)
    (n_grp, k), n_words = pos.shape, len(vecs) - 1
    table_ops = dim * n_words * (n_cls + n_words) + k * n_grp * (n_cls + k)
    direct_ops = k * n_grp * dim + dim * n_grp * n_cls
    sums = _word_table_sums if table_ops < direct_ops else _direct_sums
    scores, sq = sums(vecs, pos, class_matrix.astype(np.float64))
    norms = np.sqrt(np.maximum(sq, 0.0))
    return np.divide(scores, np.where(norms == 0.0, 1.0, norms)[:, None],
                     out=scores)


def _word_positions(embedding: VocabEmbedding, ids: np.ndarray):
    """(vecs, pos): the W distinct word vectors in float64 plus an all-zero
    row W, and each group's rows in ``vecs`` as a U×k matrix padded with
    W, k the longest group."""
    ids = ids[:, :(ids != embedding.pad).sum(axis=1).max()]
    words, inv = np.unique(ids, return_inverse=True)
    words = words[words != embedding.pad]
    vecs = np.vstack([embedding.rows(words), np.zeros((1, embedding.dim))])
    return vecs, inv.reshape(ids.shape)


def _word_table_sums(vecs, pos, classes):
    """(``(Σ v_w)·c``, ``‖Σ v_w‖²``) per group: ``S = V·Cᵀ`` and the Gram
    ``V·Vᵀ`` once, then k gathered rows of ``S``, k² Gram entries."""
    gram, k = vecs @ vecs.T, pos.shape[1]
    sq = sum(gram[pos[:, i], pos[:, j]] for i in range(k) for j in range(k))
    return _gather_sum(vecs @ classes.T, pos), sq


def _direct_sums(vecs, pos, classes):
    """The same pair from the k-row group sums and one GEMM."""
    sums = _gather_sum(vecs, pos)
    return sums @ classes.T, np.einsum("ij,ij->i", sums, sums)


def _gather_sum(rows, pos):
    """Per row of ``pos``, the sum of the ``rows`` it indexes."""
    out = rows[pos[:, 0]]
    for p in pos.T[1:]:
        out += rows[p]
    return out


def chunk_in_vocab_runs(tokens: Sequence[str], vocab: Dict[str, int],
                        max_len: int = 3) -> List[List[str]]:
    """Mention segmentation: greedy left-to-right chunks (≤ ``max_len``) of
    consecutive in-vocab tokens; any OOV or empty token breaks the run.

    This realizes the reference's all-or-nothing OOV word-group rule
    (``Duke/embedding.py:41-44``) for free-text turns: every emitted chunk
    is fully in-vocab, and OOV words never surface in a mention.
    """
    out: List[List[str]] = []
    run: List[str] = []
    for tok in tokens:
        if tok and tok in vocab:
            run.append(tok)
            if len(run) == max_len:
                out.append(run)
                run = []
        else:
            if run:
                out.append(run)
            run = []
    if run:
        out.append(run)
    return out
