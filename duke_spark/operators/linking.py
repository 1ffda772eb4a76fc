"""Entity-linking context + the vectorized per-batch kernel (SURVEY B3+B5).

This is the rebuild of the reference's core path — normalize/tokenize
(``Duke/utils.py:12-19``), all-or-nothing OOV word-groups
(``Duke/embedding.py:20-30,41-44``), and the cells×classes cosine of the
unit-normed word-group vectors (``Duke/embedding.py:33-34``,
``Duke/utils.py:22-23``, ``Duke/dataset_descriptor.py:57``) — expressed
as ONE pandas function applied per Arrow batch inside ``mapInPandas``.
Segmentation runs on NumPy int arrays of vocab ids: the batch's exploded
tokens are looked up once (``VocabEmbedding.word_ids``, one dict probe per
token), and the only other Python-level iteration builds one string per
DISTINCT mention; neither is a row UDF.

``LinkContext`` is the broadcastable analogue of the reference's
driver-loaded gensim model + embedded class tree
(``Duke/embedding.py:17``, ``Duke/class_tree.py:28-33``): built once on the
driver, shipped to executors via ``sc.broadcast``, deserialized once per
worker process (derived structures are cached lazily on the instance).
For real-wiki2vec sizes the matrix would move via SparkFiles + np.load
mmap (SURVEY §4 item 1); the broadcast path is correct at fixture scale
and keeps the code single-path.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd

from duke_spark.kernel.text import tokenize_series
from duke_spark.kernel.tree import (Tree, fold_schedule,
                                    normalize_class_tree)
from duke_spark.kernel.vectors import (VocabEmbedding, pad_groups,
                                      score_groups)

MAX_MENTION_LEN = 3


class LinkContext:
    """Embedding + normalized class tree + embedded class matrix + the
    tree's fold schedule (``kernel.tree.fold_schedule``; building it
    rejects a cyclic ontology here, on the driver)."""

    def __init__(self, vocab: List[str], matrix: np.ndarray, raw_tree: Tree):
        self._vocab_list = vocab
        self._matrix = np.ascontiguousarray(matrix, dtype=np.float32)
        emb = VocabEmbedding(vocab, self._matrix)
        self.tree: Tree = normalize_class_tree(raw_tree, emb.in_vocab)
        self.classes: List[str] = list(self.tree.keys())
        self.fold_levels = fold_schedule(self.classes, self.tree)
        self.class_matrix = emb.embed_groups(self.classes)
        self._embedding: Optional[VocabEmbedding] = emb

    # keep pickles lean: derived caches rebuilt lazily on the worker
    def __getstate__(self):
        return {"_vocab_list": self._vocab_list, "_matrix": self._matrix,
                "tree": self.tree, "classes": self.classes,
                "fold_levels": self.fold_levels,
                "class_matrix": self.class_matrix}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._embedding = None

    @property
    def embedding(self) -> VocabEmbedding:
        if self._embedding is None:
            self._embedding = VocabEmbedding(self._vocab_list, self._matrix)
        return self._embedding


MENTION_DTYPES = {"conv_id": "object", "turn_idx": "int32", "role": "object",
                  "tool": "object", "mention_id": "int32", "mention": "object",
                  "entity": "object", "entity_score": "float64"}


def link_batch(pdf: pd.DataFrame, ctx: LinkContext) -> pd.DataFrame:
    """Batch kernel: transcript rows → linked-mention rows.

    Segmentation runs on vocab ids: one lookup over the exploded tokens,
    runs of in-vocab tokens split into ≤MAX_MENTION_LEN chunks by integer
    position, distinct mentions keyed by their id tuple in first-occurrence
    order, one ``score_groups`` call over them, one argmax.
    """
    empty = pd.DataFrame({c: pd.Series(dtype=t)
                          for c, t in MENTION_DTYPES.items()})
    if len(pdf) == 0:
        return empty
    pdf = pdf.reset_index(drop=True)
    long = tokenize_series(pdf["text"]).explode()
    row, tok = long.index.to_numpy(), long.to_numpy()
    wid = ctx.embedding.word_ids(tok)
    iv = wid >= 0
    if not iv.any():
        return empty
    # a run of in-vocab tokens starts after an OOV token or a row change;
    # a mention starts every MAX_MENTION_LEN tokens into its run
    run_start = iv.copy()
    run_start[1:] &= (row[1:] != row[:-1]) | ~iv[:-1]
    row, tok, wid = row[iv], tok[iv], wid[iv]
    starts = np.flatnonzero(
        _positions(run_start[iv]) % MAX_MENTION_LEN == 0)
    lengths = np.diff(starts, append=len(wid))
    ids = pad_groups(wid, lengths, ctx.embedding.pad)
    rows = row[starts]

    # Score each DISTINCT mention once (entities recur heavily), keyed by
    # its id tuple: a column-wise factorize on integers, in first-occurrence
    # order.
    codes = np.zeros(len(ids), dtype=np.int64)
    for col in ids.T:
        codes = pd.factorize(codes * (ctx.embedding.pad + 1) + col)[0]
    first = np.unique(codes, return_index=True)[1]
    scores = score_groups(ctx.embedding, ids[first], ctx.class_matrix)
    toks = tok.tolist()
    mentions = np.asarray([" ".join(toks[s:s + n]) for s, n in
                           zip(starts[first], lengths[first])], dtype=object)
    classes = np.asarray(ctx.classes, dtype=object)

    return pd.DataFrame({
        "conv_id": pdf["conv_id"].to_numpy()[rows],
        "turn_idx": pdf["turn_idx"].to_numpy()[rows].astype("int32"),
        "role": pdf["role"].to_numpy()[rows],
        "tool": pdf["tool"].to_numpy()[rows],
        # restarts per input row (one row == one turn); `rows` is
        # nondecreasing because mentions are in token order
        "mention_id": _positions(
            np.r_[True, rows[1:] != rows[:-1]]).astype("int32"),
        "mention": mentions[codes],
        "entity": classes[np.argmax(scores, axis=1)][codes],
        "entity_score": scores.max(axis=1)[codes],
    })[list(MENTION_DTYPES)]


def _positions(is_start: np.ndarray) -> np.ndarray:
    """Each element's offset from the last ``True`` at or before it."""
    idx = np.arange(len(is_start))
    return idx - np.maximum.accumulate(np.where(is_start, idx, 0))
