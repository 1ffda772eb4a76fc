"""Reference-scale fixture: 788-class synthetic ontology + D=1000 vocab.

The mini fixtures (D=32, ~30 classes) pin correctness; this fixture pins
*performance shape*. The reference runs wiki2vec "en_1000_no_stem"
(D=1000, ``Duke/config.ini:2``) against the 788-class DBpedia tree
(``Duke/ontologies/class-tree_dbpedia_2016-10.json``), so per-mention cost
is dominated by the (mentions × 1000) @ (1000 × 788) BLAS matmul
(``Duke/dataset_descriptor.py:57``). Benchmarks that used the mini context
were string-op bound (memory bandwidth), which undersells multi-core
scaling; this fixture restores the reference's compute profile.

Structural parity with the real tree: 788 classes, depth ≤ 6, ~half the
names multi-word, exactly one multi-parent node, a handful of isolated
nodes. Entirely deterministic (seeded); class-name words are added to the
vocab so every class survives OOV normalization, mirroring the in-vocab
majority of the real tree.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

from duke_spark.fixtures.class_tree import Tree
from duke_spark.fixtures.embedding import (CLASS_WORDS, CONTENT_WORDS,
                                           FILLER_WORDS, _word_vector)

SCALE_DIM = 1000
SCALE_CLASSES = 788
_SEED = 7

# word pool for synthetic class names; disjoint from transcript content
# words so linking behavior of transcript text is unchanged.
_NAME_STEMS = [
    "aero", "bio", "cryo", "demo", "echo", "ferro", "geo", "helio",
    "iso", "juro", "kine", "litho", "mono", "neuro", "opto", "pyro",
    "quasi", "retro", "seismo", "thermo", "ultra", "vito", "xeno", "zono",
]
_NAME_SUFFIXES = [
    "form", "graph", "logue", "meter", "naut", "pod", "scope", "sphere",
    "type", "ware", "zone", "field", "gate", "hall", "lab", "mark",
    "net", "port", "rail", "site", "tower", "vault", "works", "yard",
]


def _class_name_pool() -> List[str]:
    """24 × 24 = 576 single words; enough raw material for 788 names once
    two-word combinations are allowed."""
    return [s + t for s in _NAME_STEMS for t in _NAME_SUFFIXES]


def big_tree(n_classes: int = SCALE_CLASSES, seed: int = _SEED) -> Tree:
    """Deterministic DBpedia-shaped forest: ``n_classes`` nodes, depth ≤6,
    ~50% multi-word names, one multi-parent node, 8 isolated nodes."""
    rng = np.random.default_rng(seed)
    pool = _class_name_pool()
    names: List[str] = []
    seen = set()
    i = 0
    while len(names) < n_classes:
        if len(names) % 2 == 0 and i < len(pool):
            cand = pool[i]
            i += 1
        else:
            a = pool[int(rng.integers(len(pool)))]
            b = pool[int(rng.integers(len(pool)))]
            cand = f"{a} {b}"
        if cand not in seen:
            seen.add(cand)
            names.append(cand)

    tree: Tree = {n: {"parents": [], "children": []} for n in names}
    n_isolated = 8
    n_roots = 24
    attachable = names[: n_classes - n_isolated]
    depth = {n: 0 for n in attachable[:n_roots]}
    for child in attachable[n_roots:]:
        # pick a parent with depth <6 (depth ≤6 overall, like the real tree)
        for _ in range(64):
            parent = attachable[int(rng.integers(len(attachable)))]
            if parent in depth and depth[parent] < 6 and parent != child:
                break
        else:
            parent = attachable[0]
        tree[child]["parents"].append(parent)
        tree[parent]["children"].append(child)
        depth[child] = depth[parent] + 1
    # exactly one multi-parent node (the real tree's "library")
    single_parent = [n for n in attachable[n_roots:]
                     if len(tree[n]["parents"]) == 1]
    node = single_parent[0]
    for cand_root in attachable[:n_roots]:
        if cand_root not in tree[node]["parents"]:
            tree[node]["parents"].append(cand_root)
            tree[cand_root]["children"].append(node)
            break
    return tree


def scale_vocab(tree: Tree) -> List[str]:
    """Transcript words first (linking behavior unchanged), then class-name
    words."""
    seen, vocab = set(), []
    for w in CLASS_WORDS + CONTENT_WORDS + FILLER_WORDS:
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    for cname in tree:
        for w in cname.split(" "):
            if w not in seen:
                seen.add(w)
                vocab.append(w)
    return vocab


def scale_arrays(dim: int = SCALE_DIM,
                 n_classes: int = SCALE_CLASSES,
                 seed: int = _SEED) -> Tuple[List[str], np.ndarray, Tree]:
    """(vocab, V×D float32 matrix, 788-node tree) — the broadcast payload.

    646 words × 1000 dims × 4 B ≈ 2.6 MB: well under broadcast limits; the
    real wiki2vec (~GBs) would move via SparkFiles + np.load(mmap) per
    SURVEY §4 item 1.
    """
    tree = big_tree(n_classes, seed)
    vocab = scale_vocab(tree)
    matrix = np.stack([_word_vector(w, dim) for w in vocab])
    return vocab, matrix, tree
