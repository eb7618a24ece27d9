"""Flow DAG engine (operators/flow_engine.py) vs aperag/flow/engine.py:
the canonical RAG flow end-to-end over a real KGEngine corpus, with group
ordering checked against the REFERENCE'S OWN _find_parallel_groups /
_topological_sort — AST-extracted from the source file and executed live
(the package import chain needs jinja2/nebula3 absent here) — plus cycle
detection and variable-resolution failure modes."""

from __future__ import annotations

import ast
import os
import textwrap
from types import SimpleNamespace

import pytest

from aperag_spark.api import KGEngine
from aperag_spark.operators.flow_engine import (
    CycleError,
    Edge,
    FlowEngine,
    FlowInstance,
    NodeInstance,
    ValidationError,
    canonical_rag_flow,
    find_parallel_groups,
    topological_sort,
)
from aperag_spark.synth import gen_pages_df

REF_ENGINE = "/root/reference/aperag/flow/engine.py"
needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_ENGINE), reason="reference checkout not present"
)


def _load_reference_grouping():
    """Extract FlowEngine._topological_sort and ._find_parallel_groups from
    the reference source as standalone callables."""
    src = open(REF_ENGINE).read()
    tree = ast.parse(src)
    ns: dict = {}
    wanted = {"_topological_sort", "_find_parallel_groups"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and node.name == "FlowEngine":
            for item in node.body:
                if isinstance(item, ast.FunctionDef) and item.name in wanted:
                    code = textwrap.dedent(ast.get_source_segment(src, item))
                    exec(compile(ast.parse(code), REF_ENGINE, "exec"), ns)
    assert wanted <= set(ns), "reference grouping functions not found"
    # their bodies use deque + CycleError from the reference module scope
    from collections import deque

    ns["deque"] = deque
    ns["CycleError"] = CycleError
    return ns["_topological_sort"], ns["_find_parallel_groups"]


@pytest.fixture(scope="module")
def reference():
    """(_topological_sort, _find_parallel_groups), executed from the
    reference source — loaded only by the tests that compare against it."""
    return _load_reference_grouping()


def _ref_groups(reference, flow: FlowInstance):
    REF_TOPO, REF_GROUPS = reference
    shim = SimpleNamespace(nodes=flow.nodes, edges=flow.edges)
    ordered = REF_TOPO(None, shim)
    return REF_GROUPS(None, shim, ordered)


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_flow"))
    eng = KGEngine(spark, out)
    eng.insert(gen_pages_df(spark, 60, seed=42, partitions=6), input_fingerprint="f:60")
    return eng


@needs_reference
def test_canonical_flow_end_to_end(kg, reference):
    flow = canonical_rag_flow()
    flow.validate()
    engine = FlowEngine(services={"kg": kg})
    outputs = engine.execute_flow(
        flow, {"query": "What is Acme0 Corp known for in cloud energy partnership?"}
    )

    # group ordering == the reference's own algorithm, executed live
    assert engine.groups == _ref_groups(reference, flow)
    assert engine.groups == [
        {"start"},
        {"vector_search", "fulltext_search", "graph_search"},
        {"merge"},
        {"rerank"},
        {"llm"},
    ]

    # event stream: flow_start first, flow_end last, start-before-end per
    # node, and group barriers respected (every leg starts after `start`
    # ends; merge starts after every leg ends)
    ev = engine.events
    assert ev[0]["event_type"] == "flow_start" and ev[-1]["event_type"] == "flow_end"
    seq = {
        (e["event_type"], e["node_id"]): e["seq"]
        for e in ev
        if e["node_id"] is not None
    }
    legs = ["vector_search", "fulltext_search", "graph_search"]
    for n in ["start", *legs, "merge", "rerank", "llm"]:
        assert seq[("node_start", n)] < seq[("node_end", n)]
    for leg in legs:
        assert seq[("node_start", leg)] > seq[("node_end", "start")]
        assert seq[("node_end", leg)] < seq[("node_start", "merge")]
    assert seq[("node_end", "merge")] < seq[("node_start", "rerank")]

    # the reranked docs: fresh 1..n rank, scores descending, texts unique
    docs = outputs["rerank"]["docs"].collect()
    assert docs, "canonical flow returned no docs"
    ranks = [r["rank"] for r in docs]
    assert ranks == list(range(1, len(docs) + 1))
    scores = [r["rerank_score"] for r in docs]
    assert scores == sorted(scores, reverse=True)
    texts = [r["text"] for r in docs]
    assert len(set(texts)) == len(texts)  # merge deduplicated
    # merged docs really came from more than one retrieval leg
    sources = {r["source"] for r in outputs["merge"]["docs"].select("source").collect()}
    assert len(sources) >= 2

    # llm node: prompt packs reranked docs greedily under the char budget,
    # references mirror the packed docs, response is the deterministic stub
    llm_out = outputs["llm"]
    assert llm_out["text"].startswith("STUB_RESPONSE:")
    assert llm_out["prompt"].endswith(
        "\nWhat is Acme0 Corp known for in cloud energy partnership?"
    )
    assert llm_out["references"]
    assert all(ref["text"] in llm_out["prompt"] for ref in llm_out["references"])
    # packing order follows rerank order
    packed = [ref["text"] for ref in llm_out["references"]]
    assert packed == texts[: len(packed)]


def test_llm_node_char_budget():
    """llm.py:214-228 budget semantics: greedy packing stops at the char
    limit; a template that alone exceeds the budget is refused."""
    from aperag_spark.operators.flow_engine import _run_llm

    class _FakeDocs:
        columns = ["text", "score"]

        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    rows = [
        {"text": "a" * 40, "score": 0.9},
        {"text": "b" * 40, "score": 0.8},
        {"text": "c" * 40, "score": 0.7},
    ]
    eng = FlowEngine()
    # budget fits template+query+two docs but not three
    out = _run_llm(
        eng,
        NodeInstance("llm", "llm"),
        {
            "query": "q",
            "prompt_template": "{context}|{query}",
            "docs": _FakeDocs(rows),
            "max_input_tokens": 66,  # 99 chars
        },
    )
    assert [r["text"] for r in out["references"]] == ["a" * 40, "b" * 40]
    with pytest.raises(ValidationError, match="exceeds the calculated"):
        _run_llm(
            eng,
            NodeInstance("llm", "llm"),
            {"query": "q" * 100, "prompt_template": "{context}{query}",
             "docs": None, "max_input_tokens": 10},
        )


@needs_reference
def test_cycle_detection_matches_reference(reference):
    REF_TOPO, _ = reference
    flow = canonical_rag_flow()
    flow.edges.append(Edge("rerank", "start"))
    with pytest.raises(CycleError):
        flow.validate()
    shim = SimpleNamespace(nodes=flow.nodes, edges=flow.edges)
    with pytest.raises(Exception, match="cycle"):
        REF_TOPO(None, shim)
    # self-loop variant
    loop = FlowInstance(
        "loop", "loop", {"a": NodeInstance("a", "start")}, [Edge("a", "a")]
    )
    with pytest.raises(CycleError):
        topological_sort(loop)


@needs_reference
def test_parallel_grouping_matches_reference_on_random_dags(reference):
    """Property check: on a family of random DAGs the level grouping equals
    the reference's, group by group."""
    import random

    rng = random.Random(7)
    for trial in range(20):
        n = rng.randint(2, 9)
        names = [f"n{i}" for i in range(n)]
        nodes = {x: NodeInstance(x, "start") for x in names}
        edges = [
            Edge(names[i], names[j])
            for i in range(n)
            for j in range(i + 1, n)
            if rng.random() < 0.35
        ]
        flow = FlowInstance(f"t{trial}", "t", nodes, edges)
        assert find_parallel_groups(flow, topological_sort(flow)) == _ref_groups(reference, flow)


def test_unresolvable_variable_raises():
    eng = FlowEngine()
    eng.outputs = {"start": {"query": "q"}}
    assert eng.resolve_expression("{{ nodes.start.output.query }}") == "q"
    with pytest.raises(ValidationError, match="Cannot resolve"):
        eng.resolve_expression("{{ nodes.start.output.missing }}")
    with pytest.raises(ValidationError, match="Invalid variable reference"):
        eng.resolve_expression("{{ nodes.start.query }}")
    with pytest.raises(ValidationError, match="Unknown variable scope"):
        eng.resolve_expression("{{ globals.x }}")
    # non-reference strings pass through verbatim (documented jinja gap)
    assert eng.resolve_expression("plain {{ partial") == "plain {{ partial"


def test_node_error_emits_error_event(kg):
    flow = FlowInstance(
        "bad",
        "bad",
        {
            "start": NodeInstance("start", "start"),
            "boom": NodeInstance("boom", "no_such_type"),
        },
        [Edge("start", "boom")],
    )
    engine = FlowEngine(services={"kg": kg})
    with pytest.raises(ValidationError, match="No runner registered"):
        engine.execute_flow(flow, {"query": "q"})
    kinds = [e["event_type"] for e in engine.events]
    assert "node_error" in kinds and kinds[-1] == "flow_error"
