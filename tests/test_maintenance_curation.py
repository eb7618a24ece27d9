"""M14 curation verbs vs the reference's manual graph-editing API.

The merge-strategy matrix (concatenate / keep_first / keep_last /
join_unique / max) is checked against the REFERENCE'S OWN
_merge_entity_attributes / _merge_relation_attributes (utils_graph.py:
770-870), executed live: the functions are AST-extracted from the source
file (the package import graph needs nebula3/redis drivers absent here)
and exec'd with the reference's GRAPH_FIELD_SEP. join_unique is compared
SET-wise — the reference joins a Python set, whose order is run-dependent;
our port emits sorted order (the documented deterministic refinement).
"""

from __future__ import annotations

import ast
import os
import re

import pyspark.sql.functions as F
import pytest

REF_UTILS_GRAPH = "/root/reference/aperag/graph/lightrag/utils_graph.py"
REF_PROMPT = "/root/reference/aperag/graph/lightrag/prompt.py"
needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_UTILS_GRAPH), reason="reference checkout not present"
)


def _load_reference_mergers():
    src = open(REF_UTILS_GRAPH).read()
    sep = re.search(r'GRAPH_FIELD_SEP\s*=\s*"([^"]+)"', open(REF_PROMPT).read()).group(1)
    tree = ast.parse(src)
    wanted = {"_merge_entity_attributes", "_merge_relation_attributes"}
    ns: dict = {"GRAPH_FIELD_SEP": sep}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name in wanted:
            mod = ast.Module(body=[node], type_ignores=[])
            # strip the annotations' typing deps by compiling as-is; the
            # function bodies only use builtins + GRAPH_FIELD_SEP
            exec(compile(ast.fix_missing_locations(mod), REF_UTILS_GRAPH, "exec"), ns)
    assert wanted <= set(ns), "reference merge functions not found"
    return ns["_merge_entity_attributes"], ns["_merge_relation_attributes"], sep


@pytest.fixture(scope="module")
def reference():
    """(entity merge, relation merge, GRAPH_FIELD_SEP), executed from the
    reference source — loaded only by the tests that compare against it."""
    return _load_reference_mergers()


def _agree(mine: dict, ref: dict, strategy: dict, REF_SEP: str):
    assert set(mine) == set(ref)
    for k in ref:
        if strategy.get(k, "keep_first") == "join_unique":
            assert set(str(mine[k]).split(REF_SEP)) == set(str(ref[k]).split(REF_SEP)), k
        else:
            assert mine[k] == ref[k], k


ENTITY_CASES = [
    # one list of attr dicts per case; every strategy exercised
    [
        {"description": "alpha", "entity_type": "ORG", "source_id": "c1"},
        {"description": "beta", "entity_type": "PERSON", "source_id": f"c2{'<SEP>'}c1"},
        {"description": "gamma", "entity_type": "", "source_id": "c3"},
    ],
    # falsy values are FILTERED by the entity variant (data.get(key) truthy)
    [
        {"description": "", "entity_type": "GEO"},
        {"description": "only", "entity_type": None, "extra": "x"},
    ],
    # key present in some dicts only
    [{"a": "1"}, {"b": "2"}, {"a": "3", "b": "4"}],
]

ENTITY_STRATEGIES = [
    {"description": "concatenate", "entity_type": "keep_first", "source_id": "join_unique"},
    {"description": "keep_last", "entity_type": "keep_last", "source_id": "concatenate"},
    {"description": "join_unique", "a": "keep_last", "b": "concatenate"},
    {},  # default keep_first everywhere
    {"description": "not_a_strategy"},  # unknown strategy falls back to first
]


@needs_reference
def test_entity_merge_matrix_vs_reference(reference):
    REF_ENTITY_MERGE, REF_RELATION_MERGE, REF_SEP = reference
    for data_list in ENTITY_CASES:
        for strategy in ENTITY_STRATEGIES:
            from aperag_spark.operators.maintenance import merge_entity_attributes

            _agree(
                merge_entity_attributes(data_list, strategy),
                REF_ENTITY_MERGE(data_list, strategy),
                strategy,
                REF_SEP,
            )


RELATION_CASES = [
    [
        {"description": "r1", "keywords": "k1,k2", "weight": 2.0, "source_id": "c1"},
        {"description": "r2", "keywords": "k2", "weight": 5.0, "source_id": "c2"},
    ],
    # 0.0 weight SURVIVES the relation variant (is-not-None filter)...
    [{"weight": 0.0, "description": "zero"}, {"weight": 3.0, "description": ""}],
    # ...and max falls back to keep_first on non-numeric values
    [{"weight": "heavy"}, {"weight": "light"}],
    [{"description": 42, "keywords": None}, {"description": "txt", "keywords": "kw"}],
]

RELATION_STRATEGIES = [
    {"description": "concatenate", "keywords": "join_unique", "source_id": "join_unique", "weight": "max"},
    {"description": "keep_last", "weight": "max"},
    {"weight": "keep_first", "description": "join_unique"},
    {},
]


@needs_reference
def test_relation_merge_matrix_vs_reference(reference):
    REF_ENTITY_MERGE, REF_RELATION_MERGE, REF_SEP = reference
    for data_list in RELATION_CASES:
        for strategy in RELATION_STRATEGIES:
            from aperag_spark.operators.maintenance import merge_relation_attributes

            _agree(
                merge_relation_attributes(data_list, strategy),
                REF_RELATION_MERGE(data_list, strategy),
                strategy,
                REF_SEP,
            )


# ---------------------------------------------------------------------------
# Spark-side verbs over the canonical columnar schema
# ---------------------------------------------------------------------------

ENT_SCHEMA = (
    "entity_id string, entity_type string, description string, "
    "description_frags array<string>, source_ids array<string>, "
    "file_paths array<string>, mention_count bigint, alias_names array<string>"
)
REL_SCHEMA = (
    "src_id string, tgt_id string, weight double, description string, "
    "description_frags array<string>, keyword_arr array<string>, "
    "keywords string, source_ids array<string>, file_paths array<string>"
)


@pytest.fixture()
def graph(spark):
    ents = spark.createDataFrame(
        [
            ("Acme", "ORG", "maker", ["maker"], ["c1"], ["u1"], 3, ["Acme"]),
            ("Acme Corp", "ORG", "the maker", ["the maker"], ["c2"], ["u2"], 2, ["Acme Corp"]),
            ("Bob", "PERSON", "person", ["person"], ["c3"], ["u1"], 1, ["Bob"]),
            ("Zed", "PERSON", "other", ["other"], ["c4"], ["u3"], 1, ["Zed"]),
        ],
        ENT_SCHEMA,
    )
    rels = spark.createDataFrame(
        [
            ("Acme", "Bob", 2.0, "works at", ["works at"], ["job"], "job", ["c1"], ["u1"]),
            ("Acme Corp", "Bob", 4.0, "employed by", ["employed by"], ["work"], "work", ["c2"], ["u2"]),
            ("Acme", "Acme Corp", 1.0, "alias", ["alias"], [], "", ["c1"], ["u1"]),
            ("Bob", "Zed", 1.0, "knows", ["knows"], [], "", ["c3"], ["u3"]),
        ],
        REL_SCHEMA,
    )
    return ents, rels


@needs_reference
def test_merge_entities_curated_matches_reference_semantics(graph, reference):
    REF_ENTITY_MERGE, REF_RELATION_MERGE, REF_SEP = reference
    from aperag_spark.operators.maintenance import (
        ENTITY_MERGE_DEFAULT_STRATEGY,
        merge_entities_curated,
    )

    ents, rels = graph
    out_e, out_r = merge_entities_curated(ents, rels, ["Acme", "Acme Corp"], "Acme")
    e = {r["entity_id"]: r.asDict() for r in out_e.collect()}
    assert set(e) == {"Acme", "Bob", "Zed"}
    tgt = e["Acme"]

    # attrs must equal the reference's own merge over the same dict list:
    # sources in argument order, then the pre-existing target (here target
    # IS a source, so the reference appends it twice — faithful duplicate)
    ref_in = [
        {"entity_type": "ORG", "description": "maker", "source_id": "c1", "file_path": "u1"},
        {"entity_type": "ORG", "description": "the maker", "source_id": "c2", "file_path": "u2"},
        {"entity_type": "ORG", "description": "maker", "source_id": "c1", "file_path": "u1"},
    ]
    ref = REF_ENTITY_MERGE(ref_in, ENTITY_MERGE_DEFAULT_STRATEGY)
    assert tgt["description"] == ref["description"]
    assert tgt["entity_type"] == ref["entity_type"]
    assert set(tgt["source_ids"]) == set(ref["source_id"].split(REF_SEP))
    assert tgt["mention_count"] == 5
    assert set(tgt["alias_names"]) == {"Acme", "Acme Corp"}

    r = {(row["src_id"], row["tgt_id"]): row.asDict() for row in out_r.collect()}
    # Acme–AcmeCorp becomes a self-loop: skipped. The two Bob edges collide.
    assert set(r) == {("Acme", "Bob"), ("Bob", "Zed")}
    collided = r[("Acme", "Bob")]
    ref_rel = REF_RELATION_MERGE(
        [
            {"description": "works at", "keywords": "job", "source_id": "c1", "weight": 2.0},
            {"description": "employed by", "keywords": "work", "source_id": "c2", "weight": 4.0},
        ],
        {"description": "concatenate", "keywords": "join_unique", "source_id": "join_unique", "weight": "max"},
    )
    assert collided["weight"] == ref_rel["weight"] == 4.0  # MAX, not sum
    assert set(collided["description"].split("\n\n")) == set(
        ref_rel["description"].split("\n\n")
    )
    assert set(collided["keyword_arr"]) == set(ref_rel["keywords"].split(REF_SEP))
    assert set(collided["source_ids"]) == set(ref_rel["source_id"].split(REF_SEP))
    # untouched edge intact
    assert r[("Bob", "Zed")]["weight"] == 1.0


def test_merge_strategy_overrides_and_target_data(graph):
    from aperag_spark.operators.maintenance import merge_entities_curated

    ents, rels = graph
    out_e, _ = merge_entities_curated(
        ents,
        rels,
        ["Acme Corp"],
        "Acme",
        merge_strategy={"description": "keep_last"},
        target_entity_data={"entity_type": "COMPANY"},
    )
    tgt = out_e.where(F.col("entity_id") == "Acme").collect()[0]
    # keep_last over [AcmeCorp, existing Acme] -> "maker"; override wins type
    assert tgt["description"] == "maker"
    assert tgt["entity_type"] == "COMPANY"


def test_merge_missing_source_raises(graph):
    from aperag_spark.operators.maintenance import merge_entities_curated

    ents, rels = graph
    with pytest.raises(ValueError, match="does not exist"):
        merge_entities_curated(ents, rels, ["Ghost"], "Acme")


def test_create_entity_and_refusal(graph):
    from aperag_spark.operators.maintenance import create_entity

    ents, _ = graph
    out = create_entity(ents, "NewCo", {"description": "fresh", "entity_type": "ORG"})
    row = out.where(F.col("entity_id") == "NewCo").collect()[0]
    assert row["description"] == "fresh"
    assert row["source_ids"] == ["manual_creation"]  # default source_id
    assert row["mention_count"] == 0
    with pytest.raises(ValueError, match="already exists"):
        create_entity(out, "NewCo", {})


def test_edit_entity_update_and_rename(graph):
    from aperag_spark.operators.maintenance import edit_entity

    ents, rels = graph
    # plain attribute update
    out_e, out_r = edit_entity(ents, rels, "Bob", {"description": "engineer"})
    assert out_e.where(F.col("entity_id") == "Bob").collect()[0]["description"] == "engineer"
    assert out_r.count() == rels.count()

    # rename rewires + re-sorts canonical pair ("Robert" > "Acme Corp")
    out_e, out_r = edit_entity(ents, rels, "Bob", {"entity_name": "Robert"})
    names = {r["entity_id"] for r in out_e.collect()}
    assert "Robert" in names and "Bob" not in names
    pairs = {(r["src_id"], r["tgt_id"]) for r in out_r.collect()}
    assert ("Acme", "Robert") in pairs and ("Robert", "Zed") in pairs
    assert all(s <= t for s, t in pairs)

    # rename onto an existing name refuses (the reference's rule;
    # rename_entity() is the deliberate merge variant)
    with pytest.raises(ValueError, match="cannot rename"):
        edit_entity(ents, rels, "Bob", {"entity_name": "Zed"})
    with pytest.raises(ValueError, match="not allowed"):
        edit_entity(ents, rels, "Bob", {"entity_name": "X"}, allow_rename=False)
    with pytest.raises(ValueError, match="does not exist"):
        edit_entity(ents, rels, "Ghost", {"description": "x"})


def test_relation_verbs(graph):
    from aperag_spark.operators.maintenance import (
        create_relation,
        delete_relation,
        edit_relation,
    )

    ents, rels = graph
    # create (argument order reversed -> canonical pair sorted)
    out = create_relation(ents, rels, "Zed", "Acme", {"keywords": "new, link", "weight": 2})
    row = out.where((F.col("src_id") == "Acme") & (F.col("tgt_id") == "Zed")).collect()[0]
    assert row["keyword_arr"] == ["new", "link"]
    assert row["weight"] == 2.0
    assert row["source_ids"] == ["manual_creation"]
    with pytest.raises(ValueError, match="already exists"):
        create_relation(ents, out, "Acme", "Zed", {})
    with pytest.raises(ValueError, match="does not exist"):
        create_relation(ents, rels, "Ghost", "Zed", {})

    # edit
    out = edit_relation(rels, "Bob", "Acme", {"description": "new desc", "weight": 9})
    row = out.where((F.col("src_id") == "Acme") & (F.col("tgt_id") == "Bob")).collect()[0]
    assert row["description"] == "new desc" and row["weight"] == 9.0
    assert out.count() == rels.count()
    with pytest.raises(ValueError, match="does not exist"):
        edit_relation(rels, "Ghost", "Bob", {})

    # delete: present edge drops, absent edge is a no-op (reference logs)
    assert delete_relation(rels, "Zed", "Bob").count() == rels.count() - 1
    assert delete_relation(rels, "Ghost", "Bob").count() == rels.count()


def test_kgengine_curation_wiring(spark, tmp_path):
    """The verbs exposed through KGEngine mutate the canonical tables."""
    from aperag_spark.api import KGEngine
    from aperag_spark.synth import gen_pages_df

    eng = KGEngine(spark, str(tmp_path / "kg"))
    eng.insert(gen_pages_df(spark, 12, seed=7, partitions=2), input_fingerprint="t")
    before = eng.entities.count()

    eng.create_entity("Curated Entity", {"description": "added by hand"})
    assert eng.entities.count() == before + 1

    some = [r["entity_id"] for r in eng.entities.orderBy("entity_id").limit(2).collect()]
    eng.create_relation(some[0], "Curated Entity", {"keywords": "manual"})
    eng.edit_relation(some[0], "Curated Entity", {"weight": 7.5})
    pair = sorted([some[0], "Curated Entity"])
    row = eng.relations.where(
        (F.col("src_id") == pair[0]) & (F.col("tgt_id") == pair[1])
    ).collect()
    assert len(row) == 1 and row[0]["weight"] == 7.5

    eng.merge_entities([some[1]], "Curated Entity")
    names = {r["entity_id"] for r in eng.entities.collect()}
    assert some[1] not in names and "Curated Entity" in names

    eng.edit_entity("Curated Entity", {"entity_name": "Final Name"})
    names = {r["entity_id"] for r in eng.entities.collect()}
    assert "Final Name" in names and "Curated Entity" not in names

    eng.delete_relation(some[0], "Final Name")
    assert (
        eng.relations.where(
            (F.col("src_id") == pair[0]) & (F.col("tgt_id") == "Final Name")
        ).count()
        == 0
    )


def test_kgengine_verbs_release_superseded_frames(spark, tmp_path):
    """A verb frees the checkpointed tables it replaces and the vdbs built
    from them: after the first verb, later ones hold no more RDD blocks."""
    from aperag_spark.api import KGEngine
    from aperag_spark.synth import gen_pages_df

    eng = KGEngine(spark, str(tmp_path / "kg"))
    eng.insert(gen_pages_df(spark, 12, seed=7, partitions=2), input_fingerprint="t")
    jsc = spark.sparkContext._jsc
    first = eng.entities.orderBy("entity_id").first()["entity_id"]
    eng.rename_entity(first, "Renamed 1")
    held = jsc.getPersistentRDDs().size()
    eng.query("Renamed 1", mode="local", top_k=5)  # checkpoints both vdbs
    eng.rename_entity("Renamed 1", "Renamed 2")
    eng.rename_entity("Renamed 2", "Renamed 3")
    assert jsc.getPersistentRDDs().size() <= held
    assert "Renamed 3" in {r["entity_id"] for r in eng.entities.collect()}


@needs_reference
def test_merge_matrix_randomized_fuzz_vs_reference(reference):
    """500 randomized (data_list, strategy) cases per variant against the
    executed reference functions — catches interaction bugs the fixed
    matrix misses (falsy filtering x strategy, SEP-embedded values, mixed
    types under max, absent keys)."""
    REF_ENTITY_MERGE, REF_RELATION_MERGE, REF_SEP = reference
    import random

    from aperag_spark.operators.maintenance import (
        merge_entity_attributes,
        merge_relation_attributes,
    )

    rng = random.Random(2024)
    strategies = ["concatenate", "keep_first", "keep_last", "join_unique", "max", "bogus"]
    keys = ["description", "entity_type", "source_id", "weight", "extra"]

    def rand_value():
        r = rng.random()
        if r < 0.15:
            return None
        if r < 0.25:
            return ""
        if r < 0.35:
            return rng.choice([0, 0.0, 1, 2.5, "3.5", "not-a-number"])
        parts = [f"v{rng.randint(0, 5)}" for _ in range(rng.randint(1, 3))]
        return REF_SEP.join(parts) if rng.random() < 0.4 else " ".join(parts)

    for trial in range(500):
        data_list = [
            {k: rand_value() for k in rng.sample(keys, rng.randint(1, len(keys)))}
            for _ in range(rng.randint(1, 4))
        ]
        strategy = {k: rng.choice(strategies) for k in rng.sample(keys, rng.randint(0, len(keys)))}
        # the entity variant joins raw values ("\n\n".join / set.update) —
        # the REFERENCE ITSELF TypeErrors on non-strings there (node attrs
        # are strings in its storage), so feed it the stringified view
        ent_list = [
            {k: (str(v) if v is not None and not isinstance(v, str) else v) for k, v in d.items()}
            for d in data_list
        ]
        _agree(
            merge_entity_attributes(ent_list, strategy),
            REF_ENTITY_MERGE(ent_list, strategy),
            strategy,
            REF_SEP,
        )
        # the relation variant str()-casts and has the numeric max branch —
        # mixed types exercise it as-is
        _agree(
            merge_relation_attributes(data_list, strategy),
            REF_RELATION_MERGE(data_list, strategy),
            strategy,
            REF_SEP,
        )
