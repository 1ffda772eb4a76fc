"""Embedding-based entity resolution: merge aliases of the same
real-world entity and rewrite the graph through the merge map.

Duke's canonicalization (``operators/canonical.py``, reference
``Duke/dataset_descriptor.py``) assigns each surface form a canonical
ONTOLOGY TYPE; it never decides that two distinct surface forms ARE the
same entity. At corpus scale that identity step is what keeps the KG
from fragmenting ("NYC" / "New York City" / "new york") — the classic
entity-resolution stage of any extraction pipeline.

The resolution rule here is embedding similarity, built entirely from
operators this repo already trusts:

  1. candidate pairs = ``similarity.cosine_near_dup_pairs`` (cosine ≥
     threshold inside coordinate-sign LSH buckets, hot buckets split
     into ≤max_bucket block-pair tasks — banded, never all-pairs, never
     one quadratic straggler, oracle-proven), each tagged with its
     bucket; ids may be the entity strings themselves;
  2. transitive closure per LSH bucket = ``graph.bucket_components``,
     one ``min_label_components`` call per bucket in one
     ``groupBy(bucket)`` pandas UDF: no pair crosses its bucket, so
     no component does either, and the whole closure is one shuffle —
     a fixed number of Spark jobs whatever the component diameter;
  3. canonical id = component minimum; entities with no near-dup map
     to themselves, so the returned map is TOTAL over the input.

``apply_entity_merge`` then rewrites any triple columns through the map
with per-column broadcast-friendly left joins — the map is
vertex-cardinality, orders of magnitude smaller than the fact table,
so the rewrite is two narrow-ish joins, never a shuffle of the text.
Merged facts are NOT deduplicated here (provenance rows survive);
compose with ``fact_support`` or ``distinct()`` downstream as needed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.graph import bucket_components
from duke_spark.operators.similarity import _near_dup_pairs_by_bucket


def _components(vectors: DataFrame, threshold: float, num_planes: int,
                id_col: str, vec_col: str, max_bucket: int,
                type_col: str | None) -> DataFrame:
    """(node, comp) for every id with at least one (guarded) near-dup
    pair; comp = its component's minimum id."""
    pairs = _near_dup_pairs_by_bucket(vectors, threshold, num_planes,
                                      vec_col, id_col, max_bucket, None)
    if type_col is not None:
        t = vectors.select(F.col(id_col), F.col(type_col))
        pairs = (pairs
                 .join(t.select(F.col(id_col).alias("a"),
                                F.col(type_col).alias("_ta")), "a")
                 .join(t.select(F.col(id_col).alias("b"),
                                F.col(type_col).alias("_tb")), "b")
                 .filter(F.col("_ta") == F.col("_tb")))
    # each group holds one bucket's pairs, never embeddings; partitions
    # beyond the 2^num_planes buckets would be empty, and beyond one
    # wave of cores each Python task pays its worker round trip again
    n = min(1 << max(num_planes, 0),
            vectors.sparkSession.sparkContext.defaultParallelism)
    return bucket_components(pairs, n)


def resolve_entities(vectors: DataFrame, threshold: float = 0.95,
                     num_planes: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     max_bucket: int = 4096,
                     type_col: str | None = None) -> DataFrame:
    """Total merge map (entity, canonical) over ``vectors``; canonical
    is the minimum entity id of the cosine-similarity component, the
    entity's own id when it has no neighbor ≥ threshold. Ids are
    unique (one vector per id), integer or string. ``max_bucket`` caps
    the per-task pair kernel (block-pair splitting inside hot LSH
    buckets) without changing the pair set — the 100 TB guard.

    ``type_col``: optional agreement guard — candidate pairs whose
    values in this column DIFFER are discarded before the transitive
    closure, so cosine-of-label is corroborated by independent evidence
    (canonical ontology type in the KG pipeline) before two surface
    forms merge. NULL-typed entities never merge (null-rejecting
    equality, deliberately conservative: no evidence ⇒ no merge). The
    joins are vertex-cardinality against the candidate pairs."""
    comp = _components(vectors, threshold, num_planes, id_col, vec_col,
                       max_bucket, type_col)
    return (vectors.select(F.col(id_col).alias("entity"))
            .join(comp.withColumnRenamed("node", "entity"),
                  "entity", "left")
            .select("entity",
                    F.coalesce("comp", F.col("entity"))
                    .alias("canonical")))


def apply_entity_merge(triples: DataFrame, merge_map: DataFrame,
                       cols: tuple = ("subj", "obj")) -> DataFrame:
    """Rewrite ``cols`` of ``triples`` through the (entity, canonical)
    map; ids absent from the map pass through unchanged. One left join
    per column against the (small) map — Catalyst broadcasts it."""
    out = triples
    for c in cols:
        m = merge_map.select(F.col("entity").alias(c),
                             F.col("canonical").alias(f"_canon_{c}"))
        out = (out.join(m, c, "left")
               .withColumn(c, F.coalesce(f"_canon_{c}", F.col(c)))
               .drop(f"_canon_{c}"))
    return out


def resolve_kg_entities(triples: DataFrame, ctx_bc, threshold: float,
                        num_planes: int = 4, prefix: str = "ent:",
                        max_bucket: int = 4096,
                        type_guard: bool = False) -> tuple:
    """Pipeline form: resolve the KG's OWN entities using the link
    context's word embeddings, and rewrite the triples.

    Steps, all vertex-cardinality until the final rewrite: collect the
    distinct ``prefix``-terms from subj/obj, embed each label with the
    broadcast context (one mapInPandas batch gather — the same matrix
    the linker scored against, so "similar" means similar in the
    linking space) keyed by the term string itself, run the pair kernel
    and the per-bucket closure of ``resolve_entities`` on those string
    ids, keep the merged rows (entity ≠ canonical), and
    ``apply_entity_merge``. The canonical term is the component's
    minimum string in Spark's (code-point) order. Returns
    (merge_map_df with (entity, canonical) STRING terms, rewritten
    triples); the map holds only merged terms and is persisted and
    counted. Labels missing from the embedding vocabulary map to
    themselves (no vector ⇒ no merge evidence). The Spark job count is
    fixed: it does not grow with the component diameter or the number
    of merges.

    ``type_guard``: corroborate cosine with canonicalization (B6,
    reference ``Duke/dataset_descriptor.py:65-80``): each label's class
    scores fold up the ontology tree with the production agg and two
    labels may only merge when their argmax canonical types AGREE — a
    high-cosine pair of a person-name and a place-name stays split.
    Computed in the same embed pass (one extra matmul against the class
    matrix per batch; vertex-cardinality)."""
    # one scan, not a self-union: explode([subj, obj]) enumerates both
    # positions from a single pass over the fact table (the distinct
    # output is vertex-sized either way, but the union form scanned the
    # 100 TB side twice)
    terms = (triples
             .select(F.explode(F.array("subj", "obj")).alias("t"))
             .filter(F.col("t").startswith(prefix)).distinct())

    fields = [
        T.StructField("vec_id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
    if type_guard:
        fields.append(T.StructField("ctype", T.StringType()))
    vec_schema = T.StructType(fields)
    plen = len(prefix)

    def embed(batches):
        from duke_spark.kernel.tree import fold_scores
        from duke_spark.kernel.vectors import score_groups
        ctx = ctx_bc.value
        emb = ctx.embedding
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # a multi-word label is one word group, as the linker embeds
            # class names: never itself a vocab token
            ids, keep = emb.encode(pdf["t"].str.slice(plen).to_numpy())
            if not keep.any():
                continue
            out = {"vec_id": pdf["t"].to_numpy()[keep],
                   "embedding": emb.embed(ids).tolist()}
            if type_guard:
                # single-occurrence canonicalization of the surface
                # form itself: score → tree fold → argmax class, one
                # matrix fold for the whole batch
                scores = score_groups(emb, ids, ctx.class_matrix)
                out["ctype"] = [ctx.classes[i] for i in fold_scores(
                    scores, ctx.fold_levels).argmax(axis=1)]
            yield pd.DataFrame(out)

    # persist and materialize: the embed pass (the pipeline's dominant
    # matmul, plus the tree fold under type_guard) fans out to several
    # plan branches — the pair kernel scans it twice (bucket counts +
    # rows) and the type guard twice more (a/b-side joins); uncached it
    # would re-embed every label ~4x, and counting first keeps those
    # concurrent scans from each computing it. Unpersisted below once
    # the map is materialized. One embed task per core: the stage is
    # vertex-sized, and every extra wave of Python tasks pays the
    # per-task worker round trip again.
    cores = triples.sparkSession.sparkContext.defaultParallelism
    vectors = (terms.coalesce(cores)
               .mapInPandas(embed, schema=vec_schema).persist())
    vectors.count()
    merges = (_components(vectors, threshold, num_planes, "vec_id",
                          "embedding", max_bucket,
                          "ctype" if type_guard else None)
              .filter(F.col("node") != F.col("comp"))
              .select(F.col("node").alias("entity"),
                      F.col("comp").alias("canonical"))
              .persist())
    # materialize the (vertex-sized) map once: the rewrite joins it per
    # column, and callers typically write both the map and the rewrite —
    # without this the embed+closure pipeline would re-run per consumer
    n_merges = merges.count()
    vectors.unpersist()
    # empty map ⇒ the rewrite is the identity: skip the per-column joins
    # (and let callers skip re-materializing the fact table — at 100 TB
    # an identity copy of the triples is the most expensive no-op in the
    # pipeline). The count is already in hand from the persist above.
    if n_merges == 0:
        return merges, triples
    return merges, apply_entity_merge(triples, merges)
