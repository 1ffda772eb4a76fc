"""Mini ontology class-tree fixture.

Same JSON schema as the reference's DBpedia tree
(``Duke/ontologies/class-tree_dbpedia_2016-10.json``:
``{class: {"parents": [...], "children": [...]}}``, 788 classes, depth ≤6,
exactly one multi-parent node, some isolated nodes). This synthetic tree
reproduces those structural properties at ~30 nodes: multi-word names,
one multi-parent node ("album" under both "work" and "musician"-adjacent
branch), and one isolated node, so the layered fold
(``Duke/class_tree.py:63-91``) is pinned on every edge case.

All class-name words are drawn from the fixture vocab so every class
survives OOV normalization (matching ``class_tree.py:38`` behavior when
classes are in-vocab); one deliberately-OOV class exercises the drop+repair
path.
"""

from __future__ import annotations

from typing import Dict, List

Tree = Dict[str, Dict[str, List[str]]]


def mini_tree(include_oov_class: bool = False) -> Tree:
    t: Tree = {
        # roots
        "agent": {"parents": [], "children": ["person", "organisation"]},
        "person": {"parents": ["agent"],
                   "children": ["athlete", "artist", "coach", "doctor"]},
        "organisation": {"parents": ["agent"],
                         "children": ["company", "team", "band"]},
        "athlete": {"parents": ["person"], "children": ["player"]},
        "player": {"parents": ["athlete"], "children": []},
        "coach": {"parents": ["person"], "children": []},
        "doctor": {"parents": ["person"], "children": []},
        "artist": {"parents": ["person"], "children": ["musician", "painter"]},
        "musician": {"parents": ["artist"], "children": []},
        "painter": {"parents": ["artist"], "children": []},
        "company": {"parents": ["organisation"], "children": []},
        "team": {"parents": ["organisation"], "children": []},
        "band": {"parents": ["organisation"], "children": []},
        "place": {"parents": [], "children": ["city", "country", "river",
                                              "mountain", "park"]},
        "city": {"parents": ["place"], "children": []},
        "country": {"parents": ["place"], "children": []},
        "river": {"parents": ["place"], "children": []},
        "mountain": {"parents": ["place"], "children": []},
        "park": {"parents": ["place"], "children": []},
        "work": {"parents": [],
                 "children": ["album", "film", "book", "software", "song"]},
        # the one multi-parent node (real tree has exactly one: "library")
        "album": {"parents": ["work", "record"], "children": []},
        "film": {"parents": ["work"], "children": []},
        "book": {"parents": ["work"], "children": []},
        "software": {"parents": ["work"], "children": ["database"]},
        "database": {"parents": ["software"], "children": []},
        "song": {"parents": ["work"], "children": []},
        "record": {"parents": [], "children": ["album"]},
        # multi-word class names (395/788 real classes are multi-word)
        "home run": {"parents": ["event"], "children": []},
        "race": {"parents": ["event"], "children": []},
        "event": {"parents": [], "children": ["home run", "race", "election"]},
        "election": {"parents": ["event"], "children": []},
        # isolated node (54 in the real tree)
        "device": {"parents": [], "children": []},
    }
    if include_oov_class:
        # OOV name → dropped by normalize_class_tree; edge repair removes it
        t["zzyzx thing"] = {"parents": ["work"], "children": []}
        t["work"]["children"] = t["work"]["children"] + ["zzyzx thing"]
    return t
