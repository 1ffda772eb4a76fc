"""Deterministic mini-wiki2vec: seeded hash(word) → float32 vector.

Stands in for the reference's gensim wiki2vec load
(``Duke/embedding.py:17``, model "en_1000_no_stem" per ``config.ini:2``).
Dimension is a free parameter everywhere in the reference, so fixtures use
D=32. Vectors are reproducible across processes (hash is blake2-based, not
Python's randomized ``hash``).
"""

from __future__ import annotations

import hashlib
from typing import List, Sequence, Tuple

import numpy as np

from duke_spark.kernel.vectors import VocabEmbedding

# Closed topic vocabulary: class-name words + transcript content words.
# ~80% of generator text tokens come from here; the rest are OOV by design
# so the all-or-nothing OOV rule is exercised (FIXTURES.md §1).
CLASS_WORDS: List[str] = [
    "agent", "person", "athlete", "player", "coach", "artist", "musician",
    "painter", "organisation", "company", "team", "band", "place", "city",
    "country", "river", "mountain", "work", "album", "film", "book",
    "software", "device", "database", "event", "race", "election", "animal",
    "bird", "fish", "plant", "tree", "food", "drink",
]

CONTENT_WORDS: List[str] = [
    "baseball", "league", "season", "score", "home", "run", "pitch", "bat",
    "guitar", "song", "record", "studio", "tour", "stage", "sound",
    "server", "query", "table", "index", "shard", "cluster", "node",
    "memory", "disk", "network", "model", "train", "batch", "vector",
    "river", "water", "bridge", "road", "park", "museum", "station",
    "coffee", "bread", "cheese", "wine", "menu", "kitchen", "recipe",
    "market", "price", "stock", "trade", "bank", "loan", "budget",
    "doctor", "patient", "clinic", "drug", "trial", "dose", "blood",
]

FILLER_WORDS: List[str] = [
    "the", "a", "an", "is", "was", "are", "of", "in", "on", "at", "to",
    "and", "or", "with", "for", "about", "very", "new", "old", "big",
    "uses", "plays", "wrote", "built", "found", "near", "after", "before",
]

# Deliberately OOV tokens (never in vocab) to exercise run-breaking.
OOV_WORDS: List[str] = [
    "zzyzx", "qwfp", "xkcd9", "blorptex", "vrilquat", "snarfblat",
    "gleepglorp", "wuggle", "frobnitz", "zxcvq",
]

DEFAULT_DIM = 32


def _word_vector(word: str, dim: int) -> np.ndarray:
    seed = int.from_bytes(hashlib.blake2b(word.encode(), digest_size=8).digest(),
                          "big")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32)


def build_vocab() -> List[str]:
    return list(dict.fromkeys(CLASS_WORDS + CONTENT_WORDS + FILLER_WORDS))


def build_embedding(vocab: Sequence[str] | None = None,
                    dim: int = DEFAULT_DIM) -> VocabEmbedding:
    return VocabEmbedding(*embedding_arrays(vocab, dim))


def embedding_arrays(vocab: Sequence[str] | None = None,
                     dim: int = DEFAULT_DIM) -> Tuple[List[str], np.ndarray]:
    vocab = list(vocab) if vocab is not None else build_vocab()
    return vocab, np.stack([_word_vector(w, dim) for w in vocab])
