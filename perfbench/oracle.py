"""Output checks. None of them runs the timed Spark code: the expected graph
comes from the plain-Python reference port (`tests/reference_port.py`), the
expected alias groups from the synth registry, and the program's outputs are
read straight from its parquet files with pyarrow.
"""

from __future__ import annotations

import math

import pyarrow.dataset as ds


def read_rows(path: str, columns: list[str]) -> list[dict]:
    return ds.dataset(path, format="parquet").to_table(columns=columns).to_pylist()


def count_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def reference_graph(rows: list[dict]) -> dict:
    from tests.reference_port import run_reference_pipeline

    return run_reference_pipeline(rows)


def check_triples(relations_dir: str, ref: dict) -> list[str]:
    """The relations stage's (src_id, keywords, tgt_id) triples must have
    precision = recall = 1 against the reference port's."""
    from tests.reference_port import golden_triples

    gold = golden_triples(ref)
    ours = {
        (r["src_id"], r["keywords"], r["tgt_id"])
        for r in read_rows(relations_dir, ["src_id", "keywords", "tgt_id"])
    }
    problems = []
    if ours - gold:
        problems.append(f"{len(ours - gold)} triples not in the reference, e.g. {sorted(ours - gold)[:2]}")
    if gold - ours:
        problems.append(f"{len(gold - ours)} reference triples missing, e.g. {sorted(gold - ours)[:2]}")
    return problems


def check_alias_groups(
    entities_dir: str, canonical_dir: str, registry: list[dict]
) -> list[str]:
    """Every planted alias group of the registry that occurs in the graph is
    one canonical entity, and no canonical entity holds surface forms of two
    registry entries."""
    present = {r["entity_id"] for r in read_rows(entities_dir, ["entity_id"])}
    canon_of = {}
    for r in read_rows(canonical_dir, ["entity_id", "alias_names"]):
        for name in r["alias_names"] or [r["entity_id"]]:
            canon_of[name] = r["entity_id"]
    entry_of = {}
    problems = []
    for k, ent in enumerate(registry):
        forms = [f for f in [ent["name"], *ent["aliases"]] if f in present]
        for f in forms:
            entry_of[f] = k
        canons = {canon_of.get(f, f) for f in forms}
        if len(canons) > 1:
            problems.append(f"alias group of {ent['name']!r} split over {sorted(canons)}")
    held: dict[str, set[int]] = {}
    for form, k in entry_of.items():
        held.setdefault(canon_of.get(form, form), set()).add(k)
    for canon, entries in sorted(held.items()):
        if len(entries) > 1:
            names = sorted(registry[k]["name"] for k in entries)
            problems.append(f"canonical entity {canon!r} holds registry names {names}")
    return problems


def check_snapshot(entities_dir: str, relations_dir: str, ref: dict) -> list[str]:
    """An incremental snapshot against the reference port run once over all
    pages it has seen: entity ids and source-id sets, relation pairs,
    weights and source-id sets.

    The snapshot holds merged entity records only; the reference's UNKNOWN
    stub nodes for relation endpoints that no entity record names
    (operate.py:431-443) are added by the batch pipeline's stage, not by the
    fold, so they are left out of the expected ids. Extracted types never
    read UNKNOWN, so in a single reference run the type marks the stubs.
    """
    problems = []
    want_e = {
        k: set(v["source_ids"])
        for k, v in ref["entities"].items()
        if v["entity_type"] != "UNKNOWN"
    }
    got_e = {
        r["entity_id"]: set(r["source_ids"])
        for r in read_rows(entities_dir, ["entity_id", "source_ids"])
    }
    if set(got_e) != set(want_e):
        extra, missing = set(got_e) - set(want_e), set(want_e) - set(got_e)
        problems.append(f"entity ids: {len(extra)} extra {sorted(extra)[:2]}, {len(missing)} missing {sorted(missing)[:2]}")
    bad = [k for k in want_e.keys() & got_e.keys() if want_e[k] != got_e[k]]
    if bad:
        problems.append(f"{len(bad)} entities with wrong source ids, e.g. {sorted(bad)[:2]}")

    want_r = ref["relations"]
    got_r = {
        (r["src_id"], r["tgt_id"]): r
        for r in read_rows(relations_dir, ["src_id", "tgt_id", "weight", "source_ids"])
    }
    if set(got_r) != set(want_r):
        extra, missing = set(got_r) - set(want_r), set(want_r) - set(got_r)
        problems.append(f"relation pairs: {len(extra)} extra {sorted(extra)[:2]}, {len(missing)} missing {sorted(missing)[:2]}")
    bad = [
        k
        for k in want_r.keys() & got_r.keys()
        if not math.isclose(got_r[k]["weight"], want_r[k]["weight"], rel_tol=1e-9)
        or set(got_r[k]["source_ids"]) != set(want_r[k]["source_ids"])
    ]
    if bad:
        problems.append(f"{len(bad)} relations with wrong weight or source ids, e.g. {sorted(bad)[:2]}")
    return problems
