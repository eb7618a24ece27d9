"""Connected components (M1) and alias linking/canonicalization (M13) —
includes the FIXTURES.md F5 component fixture and the alias-collapse cases."""

import re

import pyspark.sql.functions as F
import pytest

from aperag_spark.operators.components import connected_components
from aperag_spark.operators.linking import (
    build_alias_map,
    canonicalize,
    exact_normalized_pairs,
)


def test_cc_component_fixture(spark):
    # F5 (mirrors tests/unit_test/graphindex/test_lightrag_refactor.py:44-167):
    # {A,B,C} via shared B, {D,E}, isolated F → F absent from edge-driven CC
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "E")], "src string, dst string"
    )
    cc = connected_components(edges)
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert comp["A"] == comp["B"] == comp["C"]
    assert comp["D"] == comp["E"]
    assert comp["A"] != comp["D"]
    assert "F" not in comp


def test_cc_long_chain_converges(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], "src string, dst string"
    )
    cc = connected_components(edges, max_iter=30)
    comps = {r["component"] for r in cc.collect()}
    assert comps == {"n00"}  # one component, min-id label


def test_cc_raises_when_max_iter_cuts_it_short(spark):
    # a 40-node path needs several rounds; one round leaves labels moving
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="max_iter=1 rounds") as err:
        connected_components(edges, max_iter=1)
    changed = int(re.search(r"(\d+) labels changed", str(err.value)).group(1))
    assert 0 < changed <= 41


def test_cc_handles_cycles_and_self_loops(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("z", "z")], "src string, dst string"
    )
    cc = connected_components(edges)
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert "z" not in comp  # self-loop only → no edge


def _entities(spark, rows):
    return spark.createDataFrame(
        [
            (
                name,
                etype,
                f"desc of {name}",
                [f"desc of {name}"],
                [f"chunk-{i}"],
                [f"url-{i}"],
                cnt,
            )
            for i, (name, etype, cnt) in enumerate(rows)
        ],
        "entity_id string, entity_type string, description string, "
        "description_frags array<string>, source_ids array<string>, "
        "file_paths array<string>, mention_count long",
    )


def test_alias_map_collapses_planted_variants(spark):
    ents = _entities(
        spark,
        [
            ("Acme Corp", "organization", 10),
            ("ACME Corporation", "organization", 2),
            ("Acme Corp.", "organization", 1),
            ("Boris Navarro1", "person", 5),
            ("Boris Navarro121", "person", 3),  # digits differ → NOT merged
        ],
    )
    am = {r["entity_id"]: r["canonical_id"] for r in build_alias_map(ents).collect()}
    assert am == {
        "ACME Corporation": "Acme Corp",
        "Acme Corp.": "Acme Corp",
    }


def test_exact_normalized_pairs_suffix_synonyms(spark):
    ents = _entities(
        spark,
        [("Initech Incorporated", "organization", 1), ("Initech Inc", "organization", 2)],
    )
    pairs = exact_normalized_pairs(ents).collect()
    assert len(pairs) == 1


def test_canonicalize_repoints_edges_and_drops_self_loops(spark):
    ents = _entities(
        spark,
        [("Acme Corp", "organization", 5), ("Acme Corp.", "organization", 1), ("Other Co", "organization", 2)],
    )
    rels = spark.createDataFrame(
        [
            # becomes a self-loop after canonicalization → dropped
            ("Acme Corp", "Acme Corp.", 2.0, ["d1"], ["k1"], ["c1"], ["u1"]),
            # re-pointed; merges with the direct edge below (weights SUM)
            ("Acme Corp.", "Other Co", 1.0, ["d2"], ["k2"], ["c2"], ["u2"]),
            ("Acme Corp", "Other Co", 3.0, ["d3"], ["k2", "k3"], ["c3"], ["u3"]),
        ],
        "src_id string, tgt_id string, weight double, description_frags array<string>, "
        "keyword_arr array<string>, source_ids array<string>, file_paths array<string>",
    )
    am = build_alias_map(ents)
    ents_c, rels_c = canonicalize(ents, rels, am)
    out = rels_c.collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_id"], r["tgt_id"]) == ("Acme Corp", "Other Co")
    assert r["weight"] == pytest.approx(4.0)  # utils_graph.py:661-683 sum
    assert r["keyword_arr"] == ["k2", "k3"]
    ents_out = {e["entity_id"]: e for e in ents_c.collect()}
    assert set(ents_out) == {"Acme Corp", "Other Co"}
    assert ents_out["Acme Corp"]["mention_count"] == 6
    assert "Acme Corp." in ents_out["Acme Corp"]["alias_names"]
