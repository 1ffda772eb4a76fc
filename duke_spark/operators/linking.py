"""Entity-linking context + the vectorized per-batch kernel (SURVEY B3+B5).

This is the rebuild of the reference's core path — normalize/tokenize
(``Duke/utils.py:12-19``), all-or-nothing OOV word-groups
(``Duke/embedding.py:20-30,41-44``), and the cells×classes cosine of the
unit-normed word-group vectors (``Duke/embedding.py:33-34``,
``Duke/utils.py:22-23``, ``Duke/dataset_descriptor.py:57``) — expressed
as ONE pandas function applied per Arrow batch inside ``mapInPandas``.
All segmentation is pandas-vectorized (explode + cumsum run-ids); the only
Python-level iteration is the per-word index lookup inside
``kernel.vectors.score_groups`` (NumPy fromiter, not a row UDF).

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
from duke_spark.kernel.vectors import VocabEmbedding, score_groups

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
        self._class_matrix = emb.embed_groups(
            [c.split(" ") for c in self.classes])
        self._embedding: Optional[VocabEmbedding] = emb
        self._vocab_index: Optional[pd.Index] = None

    # keep pickles lean: derived caches rebuilt lazily on the worker
    def __getstate__(self):
        return {"_vocab_list": self._vocab_list, "_matrix": self._matrix,
                "tree": self.tree, "classes": self.classes,
                "fold_levels": self.fold_levels,
                "_class_matrix": self._class_matrix}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._embedding = None
        self._vocab_index = None

    @property
    def embedding(self) -> VocabEmbedding:
        if self._embedding is None:
            self._embedding = VocabEmbedding(self._vocab_list, self._matrix)
        return self._embedding

    @property
    def class_matrix(self) -> np.ndarray:
        return self._class_matrix

    @property
    def vocab_index(self) -> pd.Index:
        if self._vocab_index is None:
            self._vocab_index = pd.Index(self._vocab_list)
        return self._vocab_index


MENTION_COLUMNS = ["conv_id", "turn_idx", "role", "tool", "mention_id",
                   "mention", "entity", "entity_score"]


def link_batch(pdf: pd.DataFrame, ctx: LinkContext) -> pd.DataFrame:
    """Batch kernel: transcript rows → linked-mention rows.

    Fully vectorized segmentation: explode tokens, run-ids via cumsum over
    in-vocab break points, ≤MAX_MENTION_LEN chunks via integer division,
    one ``score_groups`` call over the distinct mentions, one argmax.
    """
    empty = pd.DataFrame({
        "conv_id": pd.Series(dtype="object"),
        "turn_idx": pd.Series(dtype="int32"),
        "role": pd.Series(dtype="object"),
        "tool": pd.Series(dtype="object"),
        "mention_id": pd.Series(dtype="int32"),
        "mention": pd.Series(dtype="object"),
        "entity": pd.Series(dtype="object"),
        "entity_score": pd.Series(dtype="float64"),
    })
    if len(pdf) == 0:
        return empty
    pdf = pdf.reset_index(drop=True)
    toks = tokenize_series(pdf["text"])
    long = toks.explode()
    f = pd.DataFrame({"row": long.index.to_numpy(),
                      "tok": long.to_numpy()})
    f["iv"] = f["tok"].isin(ctx.vocab_index) & (f["tok"] != "")
    row_change = f["row"] != f["row"].shift()
    prev_iv = f["iv"].shift(fill_value=False)
    new_run = f["iv"] & (row_change | ~prev_iv)
    f["run"] = new_run.cumsum()
    f = f[f["iv"]]
    if len(f) == 0:
        return empty
    f = f.copy()
    f["chunk"] = f.groupby("run").cumcount() // MAX_MENTION_LEN

    # Group boundaries without groupby().agg(list): the frame is already
    # in (row, run, chunk) order (explode preserves row order; run is a
    # global cumsum; chunk is nondecreasing within a run), so a boundary
    # scan + slice-joins replace 90% of the batch's former cost — the
    # per-group pandas Series construction inside the pure-Python agg.
    run_arr = f["run"].to_numpy()
    chunk_arr = f["chunk"].to_numpy()
    new_grp = np.empty(len(f), dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (run_arr[1:] != run_arr[:-1]) | \
                  (chunk_arr[1:] != chunk_arr[:-1])
    starts = np.flatnonzero(new_grp)
    ends = np.append(starts[1:], len(f))
    rows = f["row"].to_numpy()[starts]
    toks_list = f["tok"].to_list()

    # Score each DISTINCT mention once, then broadcast back via the
    # factorize codes: entities recur heavily in real transcripts, and
    # scoring is a pure function of the word group.
    mention_strs = np.asarray(
        [" ".join(toks_list[s:e]) for s, e in zip(starts, ends)],
        dtype=object)
    codes, uniq = pd.factorize(mention_strs)
    scores = score_groups(ctx.embedding, [m.split(" ") for m in uniq],
                          ctx.class_matrix)
    top = np.argmax(scores, axis=1)[codes]
    top_scores = scores.max(axis=1)[codes]
    classes = np.asarray(ctx.classes, dtype=object)

    out = pd.DataFrame({
        "conv_id": pdf["conv_id"].to_numpy()[rows],
        "turn_idx": pdf["turn_idx"].to_numpy()[rows],
        "role": pdf["role"].to_numpy()[rows],
        "tool": pdf["tool"].to_numpy()[rows],
        "mention": mention_strs,
        "entity": classes[top],
        "entity_score": top_scores,
    })
    # mention_id restarts per input row (one row == one turn); `rows` is
    # nondecreasing because `f` is in (row, run, chunk) order
    out["mention_id"] = out.groupby(rows, sort=False).cumcount().astype("int32")
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out[MENTION_COLUMNS]

