"""Pure-NumPy mini-Duke oracle — the sequential reference implementation.

Faithful, call-for-call, to the reference pipeline
(``Duke/dataset.py:28-99`` → ``Duke/dataset_descriptor.py:48-114``) applied
to transcript tables, plus the KG-construction spec (mentions → triples →
canonicalization) that the Spark pipeline must match at P/R ≥ 0.95
(BASELINE.json metric). This module is deliberately single-process,
dict-of-arrays style — the Spark operators are written independently and
tested against it.

== Triple spec (normative; duke_spark.operators implement the same) ==

Per turn (conv_id, turn_idx, role, text, tool):
  1. tokens   = normalize_text(text)                  (Duke/utils.py:12-19)
  2. mentions = greedy ≤3-token runs of consecutive in-vocab tokens
                (all-or-nothing OOV rule, Duke/embedding.py:41-44)
  3. vec_i    = unit_norm(float64 Σ of the float32 word vectors of
                mention i) — the unit-normed mean; a zero sum stays zero
                (Duke/embedding.py:33-34, Duke/utils.py:22-23)
  4. entity_i = class argmax of float64 dot(vec_i, class_matrix.T)
                (Duke/dataset_descriptor.py:57,84); score_i = that dot
  5. triples (order within turn):
       a. (conv:{conv_id},  "mentions",     ent:{entity_i}, score_i)   ∀i
       b. (ent:{entity_i},  "co_mentioned", ent:{entity_i+1},
           min(score_i, score_i+1))                       ∀ adjacent i
       c. (ent:{entity_0},  "used_tool",    tool:{tool},   score_0)
           iff tool is non-null and ≥1 mention
     each carrying (conv_id, turn_idx).

Canonicalization: per entity, mean (float64) of its mentions' full class-
score vectors, folded up the class tree with the production agg
``parent_children_funcs(np.mean, max)`` (Duke/DukeRestListener.py:37-39);
canonical type = argmax (first occurrence wins).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd

from duke_spark.kernel.text import normalize_text, pluralize
from duke_spark.kernel.tree import (PRODUCTION_TREE_AGG, Tree,
                                    aggregate_tree_scores,
                                    normalize_class_tree)
from duke_spark.kernel.vectors import VocabEmbedding, chunk_in_vocab_runs


class OracleContext:
    """Embedding + normalized tree + embedded class matrix, built once
    (mirrors ``Duke/evaluate.py:78-86`` reuse pattern)."""

    def __init__(self, embedding: VocabEmbedding, raw_tree: Tree):
        self.embedding = embedding
        self.tree = normalize_class_tree(raw_tree, embedding.in_vocab)
        self.classes: List[str] = list(self.tree.keys())
        self.class_matrix = embedding.embed_groups(self.classes)


def extract_mentions(ctx: OracleContext, text: str) -> List[List[str]]:
    tokens = normalize_text(text)
    return chunk_in_vocab_runs(tokens, ctx.embedding.vocab, max_len=3)


def link_mentions(ctx: OracleContext,
                  groups: Sequence[Sequence[str]]) -> Tuple[np.ndarray, np.ndarray]:
    """Return (top1 class index per mention, full score matrix): steps
    3-4 spelled out per group — sum → norm, then the dots."""
    vecs = np.zeros((len(groups), ctx.embedding.dim))
    for vec, g in zip(vecs, groups):
        for w in g:
            vec += ctx.embedding.matrix[ctx.embedding.vocab[w]]
        vec /= np.linalg.norm(vec) or 1.0
    scores = vecs @ ctx.class_matrix.T.astype(np.float64)
    return np.argmax(scores, axis=1), scores


def oracle_mentions(ctx: OracleContext, transcripts: pd.DataFrame) -> pd.DataFrame:
    """Linked-mention table: one row per mention with its entity + scores."""
    rows = []
    for r in transcripts.itertuples(index=False):
        groups = extract_mentions(ctx, r.text)
        top, scores = link_mentions(ctx, groups)
        for i, g in enumerate(groups):
            rows.append({
                "conv_id": r.conv_id, "turn_idx": int(r.turn_idx),
                "mention_id": i, "mention": " ".join(g),
                "entity": ctx.classes[int(top[i])],
                "entity_score": float(scores[i, top[i]]),
                "class_scores": scores[i].astype(np.float64),
            })
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "mention_id",
                                       "mention", "entity", "entity_score",
                                       "class_scores"])


def oracle_triples(ctx: OracleContext, transcripts: pd.DataFrame) -> pd.DataFrame:
    """(subj, pred, obj, conv_id, turn_idx, score) per the normative spec."""
    rows = []
    for r in transcripts.itertuples(index=False):
        groups = extract_mentions(ctx, r.text)
        top, scores = link_mentions(ctx, groups)
        ents = [ctx.classes[int(i)] for i in top]
        svals = [float(scores[i, top[i]]) for i in range(len(groups))]
        for i, e in enumerate(ents):
            rows.append((f"conv:{r.conv_id}", "mentions", f"ent:{e}",
                         r.conv_id, int(r.turn_idx), svals[i]))
        for i in range(len(ents) - 1):
            rows.append((f"ent:{ents[i]}", "co_mentioned", f"ent:{ents[i+1]}",
                         r.conv_id, int(r.turn_idx), min(svals[i], svals[i + 1])))
        tool = getattr(r, "tool", None)
        if tool is not None and not (isinstance(tool, float) and np.isnan(tool)) \
                and ents:
            rows.append((f"ent:{ents[0]}", "used_tool", f"tool:{tool}",
                         r.conv_id, int(r.turn_idx), svals[0]))
    return pd.DataFrame(rows, columns=["subj", "pred", "obj", "conv_id",
                                       "turn_idx", "score"])


def oracle_canonical_types(ctx: OracleContext,
                           mentions: pd.DataFrame) -> Dict[str, str]:
    """Per-entity canonical type via tree-aggregated mean score vector."""
    out: Dict[str, str] = {}
    for entity, grp in mentions.groupby("entity", sort=True):
        mean_scores = np.mean(np.stack(grp["class_scores"].to_list()), axis=0)
        agg = aggregate_tree_scores(ctx.classes, mean_scores, ctx.tree,
                                    PRODUCTION_TREE_AGG)
        out[entity] = ctx.classes[int(np.argmax(agg))]
    return out


# --- Duke-parity "what is this conversation about?" path -------------------
# conversation = dataset, role = source (text column), turn text = cell,
# plus a synthetic 'headers' source = roles ∪ tool names present
# (Duke/dataset.py:63-69).

def describe_conversation(ctx: OracleContext, conv: pd.DataFrame,
                          row_agg=None, tree_agg=PRODUCTION_TREE_AGG,
                          source_agg=None, top_n: int = 5):
    row_agg = row_agg or (lambda m: np.mean(m, axis=0))
    source_agg = source_agg or (lambda m: np.mean(m, axis=0))

    data: Dict[str, List[List[str]]] = {}
    headers = sorted(set(conv["role"].dropna())) + \
        sorted(set(conv["tool"].dropna()))
    hdr_groups = [g for g in (normalize_text(h) for h in headers)
                  if ctx.embedding.in_vocab(g)]
    if hdr_groups:
        data["headers"] = hdr_groups
    for role, grp in conv.groupby("role", sort=True):
        groups = []
        for text in grp.sort_values("turn_idx")["text"]:
            g = normalize_text(text)
            if g and ctx.embedding.in_vocab(g):   # all-or-nothing OOV per cell
                groups.append(g)
        if groups:
            data[role] = groups

    per_source = []
    for src in data:  # insertion order, as the reference iterates dicts
        sim = link_mentions(ctx, data[src])[1]                   # cells × C
        row_scores = row_agg(sim)                                # length C
        tree_scores = aggregate_tree_scores(ctx.classes, row_scores,
                                            ctx.tree, tree_agg)
        per_source.append(tree_scores)
    if not per_source:
        return None
    final = source_agg(np.stack(per_source))
    order = np.argsort(-final, kind="stable")[:top_n]
    top = [(ctx.classes[i], float(final[i])) for i in order]
    desc = f"This dataset is about {pluralize(ctx.classes[int(np.argmax(final))])}."
    return {"description": desc, "top": top, "scores": final}


def triple_prf(expected: pd.DataFrame, actual: pd.DataFrame) -> Dict[str, float]:
    """Precision/recall/F1 over (subj,pred,obj,conv_id,turn_idx) tuples."""
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    e = set(map(tuple, expected[key].itertuples(index=False)))
    a = set(map(tuple, actual[key].itertuples(index=False)))
    tp = len(e & a)
    p = tp / len(a) if a else 1.0
    r = tp / len(e) if e else 1.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1,
            "expected": len(e), "actual": len(a)}
