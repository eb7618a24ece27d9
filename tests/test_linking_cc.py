"""Connected components (M1) and alias linking/canonicalization (M13) —
includes the FIXTURES.md F5 component fixture and the alias-collapse cases,
on both alias-map routes (driver union-find and distributed hash-min)."""

import re

import pyspark.sql.functions as F
import pytest

from aperag_spark.operators import linking
from aperag_spark.operators.components import connected_components, union_find
from aperag_spark.operators.linking import (
    alias_edges,
    build_alias_map,
    canonicalize,
)


def _components(edges, **kw):
    """{node: component} from hash-min, checked equal to union_find's."""
    cc = connected_components(edges, **kw)
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert union_find(map(tuple, edges.collect())) == comp
    return comp


def test_cc_component_fixture(spark):
    # F5 (mirrors tests/unit_test/graphindex/test_lightrag_refactor.py:44-167):
    # {A,B,C} via shared B, {D,E}, isolated F → F absent from edge-driven CC
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "E")], "src string, dst string"
    )
    comp = _components(edges)
    assert comp["A"] == comp["B"] == comp["C"]
    assert comp["D"] == comp["E"]
    assert comp["A"] != comp["D"]
    assert "F" not in comp


def test_cc_long_chain_converges(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], "src string, dst string"
    )
    comps = set(_components(edges, max_iter=30).values())
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
    comp = _components(edges)
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


def _planted(spark):
    return _entities(
        spark,
        [
            ("Acme Corp", "organization", 10),
            ("ACME Corporation", "organization", 2),
            ("Acme Corp.", "organization", 1),
            ("Boris Navarro1", "person", 5),
            ("Boris Navarro121", "person", 3),  # digits differ → NOT merged
        ],
    )


def _alias_map(ents):
    return {r["entity_id"]: r["canonical_id"] for r in build_alias_map(ents).collect()}


@pytest.fixture(scope="module")
def synth_entities(spark, tmp_path_factory):
    """The entities stage of a 120-page synthetic insert, read back."""
    from aperag_spark.plans.pipeline import run_pipeline
    from aperag_spark.synth import gen_pages_df

    out = str(tmp_path_factory.mktemp("linking_synth"))
    pages = gen_pages_df(spark, 120, seed=42, partitions=4)
    return run_pipeline(spark, pages, out, input_fingerprint="l", with_linking=False)["entities"]


def test_alias_map_collapses_planted_variants(spark):
    am = _alias_map(_planted(spark))
    assert am == {
        "ACME Corporation": "Acme Corp",
        "Acme Corp.": "Acme Corp",
    }


def test_exact_normalized_pairs_suffix_synonyms(spark):
    ents = _entities(
        spark,
        [("Initech Incorporated", "organization", 1), ("Initech Inc", "organization", 2)],
    )
    # one edge, from the normalized-name bucket ("initech inc"); the
    # shingle Jaccard of the two names is far below the threshold
    edges = [(r["a"], r["b"]) for r in alias_edges(ents).collect()]
    assert edges == [("Initech Inc", "Initech Incorporated")]


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


def test_alias_map_routes_agree(spark, synth_entities, monkeypatch):
    """At or below ALIAS_EDGE_CAP the map comes from the driver union-find;
    with the cap at 0 every non-empty edge list takes the hash-min route.
    Both give the same map, on the planted fixture and on a synth insert."""
    hash_min_runs = []

    def spy(*args, **kwargs):
        hash_min_runs.append(1)
        return connected_components(*args, **kwargs)

    monkeypatch.setattr(linking, "connected_components", spy)
    for ents in (_planted(spark), synth_entities):
        hash_min_runs.clear()
        driver = _alias_map(ents)
        assert not hash_min_runs
        with monkeypatch.context() as m:
            m.setattr(linking, "ALIAS_EDGE_CAP", 0)
            assert _alias_map(ents) == driver
        assert hash_min_runs == [1]
    # the synth corpus plants surface variants: the map is not trivially empty
    assert len(driver) >= 10


def test_alias_map_stage_runs_three_jobs(spark, synth_entities, tmp_path):
    """The alias_map stage: the blocking groupBy (its shuffle map job and the
    edge collect) and the stage write — no CC rounds, no join back."""
    from aperag_spark.plans.stages import write_stage

    sc = spark.sparkContext
    sc.setJobGroup("alias-map-stage", "alias-map-stage")
    try:
        written = write_stage(build_alias_map(synth_entities), str(tmp_path), "alias_map", "j")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("alias-map-stage")
    assert len(jobs) <= 3, f"{len(jobs)} jobs"
    assert written.count() > 0


def test_non_ascii_names_stay_separate(spark):
    """Unicode letters survive normalization: CJK and Cyrillic names do not
    all normalize to '' (and so link to each other), and accented variants
    still link."""
    ents = _entities(
        spark,
        [
            ("東京", "location", 3),
            ("北京", "location", 2),
            ("Москва", "location", 1),
            ("Café Corp", "organization", 4),
            ("CAFÉ CORP.", "organization", 1),
        ],
    )
    assert _alias_map(ents) == {"CAFÉ CORP.": "Café Corp"}
