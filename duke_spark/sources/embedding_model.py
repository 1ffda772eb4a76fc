"""Real embedding-model loading + executor distribution (SURVEY §4 item 1).

The reference loads a gensim word2vec model once in its single process
(``Duke/embedding.py:7-17``, model name from ``Duke/config.ini:2``). On a
cluster that pattern becomes: the DRIVER parses the model once into
``(vocab, float32 matrix)`` and converts it to the executor-distributable
layout — a plain ``.npy`` matrix + a UTF-8 vocab text file — then ships
both via ``SparkContext.addFile``. EXECUTORS open the matrix with
``np.load(mmap_mode='r')`` from ``SparkFiles.get`` and keep it in a
module-level per-process cache, so a multi-GB matrix is paged lazily from
local disk, mapped once per worker process, and never pickled into a
broadcast or task closure.

Supported input formats (all public):
  * word2vec text format (``.txt``/``.vec``): optional "N D" header line,
    then one ``word v1 .. vD`` per line — the format every public
    word2vec/GloVe/fastText release ships.
  * ``.npz`` with ``vocab`` (array of str) and ``matrix`` (N×D float).
  * gensim ``.kv``/``.model`` via ``gensim`` when installed (import-gated:
    this container doesn't ship gensim, so the loader raises a clear
    error instead of failing at import time).
  * the distributable layout itself (``<stem>.npy`` + ``<stem>.vocab.txt``).
"""

from __future__ import annotations

import os
from typing import List, Tuple

import numpy as np

from duke_spark.kernel.tree import Tree
from duke_spark.operators.linking import LinkContext

# one mmap per (vocab_file, matrix_file) per worker PROCESS — tasks on the
# same executor share it; keyed by SparkFiles basename, which addFile makes
# unique per file content within an application
_WORKER_MODEL_CACHE: dict = {}


def load_word2vec_text(path: str,
                       max_words: int | None = None
                       ) -> Tuple[List[str], np.ndarray]:
    """Parse word2vec/GloVe text format → (vocab, float32 matrix).
    Accepts an optional ``N D`` header; malformed lines are skipped the
    way gensim's loader does (count mismatch → drop)."""
    vocab: List[str] = []
    rows: List[np.ndarray] = []
    dim = None
    with open(path, encoding="utf-8", errors="replace") as f:
        first = f.readline()
        parts = first.rstrip("\n").split(" ")
        if len(parts) == 2 and parts[0].isdigit() and parts[1].isdigit():
            dim = int(parts[1])  # header line
        else:
            f.seek(0)
        for line in f:
            parts = line.rstrip("\n").split(" ")
            if len(parts) < 2:
                continue
            word, vals = parts[0], parts[1:]
            if dim is None:
                dim = len(vals)
            if len(vals) != dim:
                continue
            vocab.append(word)
            rows.append(np.asarray(vals, dtype=np.float32))
            if max_words is not None and len(vocab) >= max_words:
                break
    if not rows:
        raise ValueError(f"no vectors parsed from {path}")
    return vocab, np.stack(rows)


def load_npz(path: str) -> Tuple[List[str], np.ndarray]:
    with np.load(path, allow_pickle=False) as z:
        vocab = [str(w) for w in z["vocab"]]
        matrix = np.asarray(z["matrix"], dtype=np.float32)
    if len(vocab) != matrix.shape[0]:
        raise ValueError(f"{path}: vocab/matrix row mismatch "
                         f"({len(vocab)} vs {matrix.shape[0]})")
    return vocab, matrix


def load_gensim(path: str) -> Tuple[List[str], np.ndarray]:
    """gensim ``.kv``/``.model`` — gated on gensim being installed."""
    try:
        from gensim.models import KeyedVectors, Word2Vec
    except ImportError as e:  # pragma: no cover - container has no gensim
        raise ImportError(
            "loading gensim models requires the 'gensim' package; convert "
            "the model to word2vec text format or .npz instead (gensim's "
            "model.wv.save_word2vec_format does this offline)") from e
    if path.endswith(".kv"):
        kv = KeyedVectors.load(path, mmap="r")
    else:
        kv = Word2Vec.load(path).wv
    vocab = list(kv.index_to_key)
    return vocab, np.asarray(kv.vectors, dtype=np.float32)


def load_model(path: str,
               max_words: int | None = None) -> Tuple[List[str], np.ndarray]:
    """Dispatch on extension; ``<stem>.npy`` pairs load mmap'd."""
    if path.endswith(".npy"):
        vocab_path = path[:-len(".npy")] + ".vocab.txt"
        return _load_pair(vocab_path, path)
    if path.endswith(".npz"):
        return load_npz(path)
    if path.endswith((".kv", ".model")):
        return load_gensim(path)
    return load_word2vec_text(path, max_words=max_words)


def save_distributable(vocab: List[str], matrix: np.ndarray, out_dir: str,
                       name: str = "model") -> Tuple[str, str]:
    """Write the executor layout: ``name.vocab.txt`` + ``name.npy``
    (uncompressed .npy so ``np.load(mmap_mode='r')`` maps it directly —
    .npz is a zip and cannot be mmap'd). Returns (vocab_path, matrix_path).
    """
    os.makedirs(out_dir, exist_ok=True)
    vocab_path = os.path.join(out_dir, f"{name}.vocab.txt")
    matrix_path = os.path.join(out_dir, f"{name}.npy")
    with open(vocab_path, "w", encoding="utf-8") as f:
        for w in vocab:
            f.write(w.replace("\n", " ") + "\n")
    np.save(matrix_path, np.ascontiguousarray(matrix, dtype=np.float32))
    return vocab_path, matrix_path


def _load_pair(vocab_path: str,
               matrix_path: str) -> Tuple[List[str], np.ndarray]:
    with open(vocab_path, encoding="utf-8") as f:
        vocab = [line.rstrip("\n") for line in f]
    matrix = np.load(matrix_path, mmap_mode="r")
    if len(vocab) != matrix.shape[0]:
        raise ValueError(f"{matrix_path}: vocab/matrix row mismatch "
                         f"({len(vocab)} vs {matrix.shape[0]})")
    return vocab, matrix


def _worker_model(vocab_file: str,
                  matrix_file: str) -> Tuple[List[str], np.ndarray]:
    """Executor-side: resolve the SparkFiles copies and mmap once per
    process. Falls back to treating the names as direct paths so the same
    context object also works driver-side / outside Spark."""
    key = (vocab_file, matrix_file)
    hit = _WORKER_MODEL_CACHE.get(key)
    if hit is not None:
        return hit
    vp, mp = vocab_file, matrix_file
    if not os.path.exists(mp):
        from pyspark import SparkFiles
        vp = SparkFiles.get(os.path.basename(vocab_file))
        mp = SparkFiles.get(os.path.basename(matrix_file))
    model = _load_pair(vp, mp)
    _WORKER_MODEL_CACHE[key] = model
    return model


class MmapLinkContext(LinkContext):
    """LinkContext whose pickle carries only the small derived state
    (normalized tree, class names, fold schedule, C×D class matrix) plus
    the model FILE NAMES — never the matrix. Executors rebuild
    vocab+matrix from the SparkFiles mmap on first use. This is the
    GB-scale path promised in SURVEY §4 item 1; the broadcast
    ``LinkContext`` stays the simple path for fixture-sized models."""

    def __init__(self, vocab: List[str], matrix: np.ndarray, raw_tree: Tree,
                 vocab_file: str, matrix_file: str):
        super().__init__(vocab, matrix, raw_tree)
        self._vocab_file = vocab_file
        self._matrix_file = matrix_file

    def __getstate__(self):
        return {"tree": self.tree, "classes": self.classes,
                "fold_levels": self.fold_levels,
                "class_matrix": self.class_matrix,
                "_vocab_file": self._vocab_file,
                "_matrix_file": self._matrix_file}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._embedding = None

    @property
    def embedding(self):
        if self._embedding is None:
            from duke_spark.kernel.vectors import VocabEmbedding
            self._embedding = VocabEmbedding(*_worker_model(
                self._vocab_file, self._matrix_file))
        return self._embedding


def mmap_link_context(spark, model_path: str, raw_tree: Tree,
                      work_dir: str | None = None,
                      max_words: int | None = None):
    """Load a real model, convert to the distributable layout if needed,
    register both files with ``addFile``, and broadcast the lean context.

    Returns the broadcast handle — a drop-in for the fixture
    ``sc.broadcast(LinkContext(...))`` everywhere the operators take
    ``ctx_bc``."""
    if model_path.endswith(".npy"):
        vocab_path = model_path[:-len(".npy")] + ".vocab.txt"
        matrix_path = model_path
        vocab, matrix = _load_pair(vocab_path, matrix_path)
    else:
        vocab, matrix = load_model(model_path, max_words=max_words)
        if work_dir is None:
            work_dir = os.path.join(os.path.dirname(os.path.abspath(
                model_path)), "_duke_spark_model")
        stem = os.path.splitext(os.path.basename(model_path))[0]
        vocab_path, matrix_path = save_distributable(
            vocab, matrix, work_dir, name=stem)
        # reopen mmap'd so the driver-side context doesn't hold a heap copy
        vocab, matrix = _load_pair(vocab_path, matrix_path)
    sc = spark.sparkContext
    sc.addFile(vocab_path)
    sc.addFile(matrix_path)
    ctx = MmapLinkContext(vocab, matrix, raw_tree,
                          os.path.abspath(vocab_path),
                          os.path.abspath(matrix_path))
    return sc.broadcast(ctx)
