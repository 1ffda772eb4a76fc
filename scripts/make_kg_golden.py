"""Materialize the NumPy-oracle outputs of the four KG contract queries
as golden parquet tables (VERDICT r3 #1).

The driver's correctness gate compares each `queries()` entry against a
DuckDB `oracle_sql()` run. The KG queries (pandas-UDF embedding matmul +
ontology tree fold) are not SQL-expressible, so rounds 1-3 recorded them
rows-only, with full value parity pinned in pytest instead
(tests/test_kg_contract_invariants.py). This script closes that gap: it
re-derives the four expected outputs ENTIRELY WITHOUT SPARK — pandas for
the input shaping, `duke_spark.kernel.oracle` (the sequential NumPy
mini-Duke, faithful to Duke/dataset.py:28-99 and
dataset_descriptor.py:48-114) for the semantics — and writes them under
duke_spark/fixtures/golden/<sf>/ where `oracle_sql()` can SELECT them.
The comparison is then a real independent check: the Spark pipeline and
this generator share only the kernel primitives that pytest pins
scalar-vs-vectorized (kernel/vectors.py, kernel/tree.py), not any Spark
operator or partitioning logic.

Inputs replicated from __spark_entry__ (must stay in lockstep; the hash
gate fails loudly if either drifts):
  - `_docs_as_transcripts`: turn_idx = rank of doc_id within source;
    role = [user, assistant, tool][turn_idx % 3]; tool = lang on tool
    turns, else null.
  - `_corpus_context`: vocab = top-2000 corpus words by (count desc,
    word asc) + fixture class words; deterministic hash embeddings.

Float policy: scores follow the oracle's float64 definition (steps 3-4
of the `kernel/oracle.py` spec: the float64 sum of a group's float32
word vectors, unit-normed, dotted with the class rows). `score` columns
are stored raw float64; both the Spark query and the oracle SQL apply
ROUND(score, 6) (the repo-wide float comparability convention, cf. the
ANN oracles). Spark-vs-oracle raw diffs are association-order noise
(≤1e-15: Spark scores through `kernel.vectors.score_groups`' per-batch
word table, the oracle sums, norms and dots per group) — far inside the
1e-6 grid, so rounding is collision-safe.

Usage: python scripts/make_kg_golden.py [sf_dir ...]
Defaults to sf0.001, sf0.01 and sf0.1.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duke_spark.fixtures.class_tree import mini_tree  # noqa: E402
from duke_spark.fixtures.embedding import _word_vector  # noqa: E402
from duke_spark.kernel.oracle import (OracleContext,  # noqa: E402
                                      describe_conversation,
                                      oracle_canonical_types,
                                      oracle_mentions, oracle_triples)
from duke_spark.kernel.text import normalize_text  # noqa: E402
from duke_spark.kernel.vectors import VocabEmbedding  # noqa: E402

GOLDEN_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "duke_spark", "fixtures", "golden")

ROLES = ["user", "assistant", "tool"]


def transcripts_from_documents(sf_dir: str) -> pd.DataFrame:
    """Pandas twin of __spark_entry__._docs_as_transcripts."""
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                           columns=["doc_id", "text", "lang", "source"])
    docs = docs.sort_values(["source", "doc_id"], kind="mergesort")
    docs["turn_idx"] = docs.groupby("source").cumcount().astype("int32")
    docs["role"] = [ROLES[i % 3] for i in docs["turn_idx"]]
    docs["tool"] = docs["lang"].where(docs["role"] == "tool")
    return (docs.rename(columns={"source": "conv_id"})
            [["conv_id", "turn_idx", "role", "text", "tool"]]
            .reset_index(drop=True))


def context_from_documents(sf_dir: str) -> OracleContext:
    """Pandas twin of __spark_entry__._corpus_context (top-2000 words by
    (count desc, word asc), then fixture class words, order-preserving
    dedup, deterministic hash vectors)."""
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                           columns=["text"])
    counts = Counter()
    for t in docs["text"]:
        for w in str(t).split(" "):
            if w:
                counts[w] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:2000]
    tree = mini_tree()
    class_words = sorted({w for c in tree for w in c.split(" ")})
    vocab, seen = [], set()
    for w in [w for w, _ in top] + class_words:
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    matrix = np.stack([_word_vector(w, 32) for w in vocab])
    return OracleContext(VocabEmbedding(vocab, matrix), tree)


def golden_vertices(ctx: OracleContext, transcripts: pd.DataFrame,
                    mentions: pd.DataFrame) -> pd.DataFrame:
    """Expected build_vertices output (graph.py spec) from oracle rows."""
    canon = oracle_canonical_types(ctx, mentions)
    men = mentions.merge(
        transcripts[["conv_id", "turn_idx", "tool"]],
        on=["conv_id", "turn_idx"], how="left")

    ents = (men.groupby("entity", sort=True)["entity_score"].mean()
            .reset_index())
    ent_rows = pd.DataFrame({
        "id": "ent:" + ents["entity"],
        "label": ents["entity"],
        "kind": "ent",
        "canonical_type": ents["entity"].map(canon),
        "score": ents["entity_score"],
    })

    conv_ent = (men.groupby(["conv_id", "entity"])["entity_score"].sum()
                .reset_index(name="tot"))
    # dominant entity: max on the (tot, entity) pair — graph.py's max_by
    dom = (conv_ent.sort_values(["conv_id", "tot", "entity"])
           .groupby("conv_id").tail(1)[["conv_id", "entity"]])
    convs = (men.groupby("conv_id")["entity_score"].mean().reset_index()
             .merge(dom, on="conv_id", how="left"))
    conv_rows = pd.DataFrame({
        "id": "conv:" + convs["conv_id"],
        "label": convs["conv_id"],
        "kind": "conv",
        "canonical_type": convs["entity"].map(canon),
        "score": convs["entity_score"],
    })

    tools = sorted(men["tool"].dropna().unique())
    tool_rows = pd.DataFrame({
        "id": ["tool:" + t for t in tools],
        "label": tools,
        "kind": "tool",
        "canonical_type": pd.Series([None] * len(tools), dtype="object"),
        "score": pd.Series([np.nan] * len(tools), dtype="float64"),
    })
    return pd.concat([ent_rows, conv_rows, tool_rows], ignore_index=True)


def golden_duke_describe(ctx: OracleContext,
                         transcripts: pd.DataFrame) -> pd.DataFrame:
    """Expected describe_conversations_duke output: (conv_id, top_class,
    description, n_sources) — description/top from the oracle's
    describe_conversation; n_sources recomputed with the same membership
    rules (headers source if any header word-group is in-vocab, plus one
    source per role with >=1 all-in-vocab cell)."""
    rows = []
    for conv_id, conv in transcripts.groupby("conv_id", sort=True):
        exp = describe_conversation(ctx, conv)
        if exp is None:
            continue
        headers = sorted(set(conv["role"].dropna())) + \
            sorted(set(conv["tool"].dropna()))
        n_sources = int(any(
            g and ctx.embedding.in_vocab(g)
            for g in (normalize_text(h) for h in headers)))
        for role, grp in conv.groupby("role", sort=True):
            if any(g and ctx.embedding.in_vocab(g)
                   for g in (normalize_text(t) for t in grp["text"])):
                n_sources += 1
        rows.append({"conv_id": conv_id, "top_class": exp["top"][0][0],
                     "description": exp["description"],
                     "n_sources": n_sources})
    return pd.DataFrame(rows,
                        columns=["conv_id", "top_class", "description",
                                 "n_sources"])


def golden_conv_topics(ctx: OracleContext,
                       mentions: pd.DataFrame) -> pd.DataFrame:
    """Expected describe_conversations output: per-conversation canonical
    topic from the mean mention class-score vector folded up the tree."""
    from duke_spark.kernel.text import pluralize
    from duke_spark.kernel.tree import (PRODUCTION_TREE_AGG,
                                        aggregate_tree_scores)
    rows = []
    for conv_id, grp in mentions.groupby("conv_id", sort=True):
        mean_vec = np.mean(np.stack(grp["class_scores"].to_list()), axis=0)
        agg = aggregate_tree_scores(ctx.classes, mean_vec, ctx.tree,
                                    PRODUCTION_TREE_AGG)
        top = ctx.classes[int(np.argmax(agg))]
        rows.append({"conv_id": conv_id, "topic": top,
                     "description":
                         f"This conversation is about {pluralize(top)}.",
                     "n_mentions": len(grp)})
    return pd.DataFrame(rows, columns=["conv_id", "topic", "description",
                                       "n_mentions"])


def make_golden(sf_dir: str) -> str:
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(GOLDEN_ROOT, sf_name)
    os.makedirs(out_dir, exist_ok=True)

    transcripts = transcripts_from_documents(sf_dir)
    ctx = context_from_documents(sf_dir)
    mentions = oracle_mentions(ctx, transcripts)

    triples = oracle_triples(ctx, transcripts)
    triples["turn_idx"] = triples["turn_idx"].astype("int32")
    triples = triples[["subj", "pred", "obj", "conv_id", "turn_idx",
                       "score"]]
    vertices = golden_vertices(ctx, transcripts, mentions)
    describe = golden_duke_describe(ctx, transcripts)
    topics = golden_conv_topics(ctx, mentions)

    for name, pdf in [("kg_triples", triples), ("kg_vertices", vertices),
                      ("kg_duke_describe", describe),
                      ("kg_conv_topics", topics)]:
        path = os.path.join(out_dir, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        print(f"wrote {path}: {len(pdf)} rows")
    return out_dir


if __name__ == "__main__":
    dirs = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
                            "/root/testdata/sf0.1"]
    for d in dirs:
        make_golden(d)
