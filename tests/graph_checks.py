"""Shared references for the graph-closure tests: a union-find oracle
for component labels and a Spark job counter."""

import uuid


def union_find(edges) -> dict:
    """{node: component minimum} for every endpoint of ``edges``, in
    Python's order (code points for ``str``)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller root wins, so roots are minima
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def job_count(spark, action) -> int:
    """Spark jobs launched while ``action()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
