"""Every top-level def and class in the package is referenced from
somewhere outside tests/: the package itself, the driver entry point,
the bench, jobs/, tools/ or perfbench/. Code that only its own tests
reach is either deleted or named in ALLOWED with a reason.

A reference is a name, attribute, import alias or identifier-shaped
string (monkey-patch targets in perfbench/) in any top-level statement
other than the definition itself. Pure ``ast``; no Spark.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "glinerswift_spark"

# name or package-relative file -> why it stays without a non-test caller
ALLOWED = {
    "word_tokens": "parity helper: aligns reference subword pieces to words",
    "enumerate_spans": "parity helper: the reference span enumeration order",
    "span_label_logits": "parity helper: span-rep head scoring on real states",
    "sources/manifest.py": "parity helper: reference model-manifest loader",
    "functions/prompt.py": "parity helper: reference prompt formatting",
    "WordStatesProvider": "parity helper: precomputed hidden states seam",
    "pad_encoding": "parity helper: attention-0 padding is provably inert",
    "HashEmbeddingSpec": "reference pooling/similarity variants, pinned by tests",
    "simhash16": "one-call form of the simhash bits the oracle replays",
    "write_table_iceberg": "Iceberg sink seam for the production catalog",
    "top_relations": "library example in the verify recipe",
}


def _sources() -> list[Path]:
    files = [*PKG.rglob("*.py"), ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("jobs", "tools", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    return files


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


@cache
def _scan():
    """(file, name) of each package top-level def, and the names each
    top-level statement of every source references, keyed (file, def)."""
    defs, refs = [], {}
    for f in _sources():
        for st in ast.parse(f.read_text()).body:
            own = getattr(st, "name", None)
            if own and f.is_relative_to(PKG):
                defs.append((f, own))
            refs.setdefault((f, own), set()).update(_names(st))
    return defs, refs


def test_every_package_def_is_reached_outside_tests():
    defs, refs = _scan()
    unreached = [
        f"{f.relative_to(PKG).as_posix()}:{name}"
        for f, name in defs
        if name not in ALLOWED
        and f.relative_to(PKG).as_posix() not in ALLOWED
        and not any(
            name in names for key, names in refs.items() if key != (f, name)
        )
    ]
    assert unreached == []


def test_allowlist_names_exist():
    defs, _ = _scan()
    known = {name for _, name in defs} | {f.relative_to(PKG).as_posix() for f, _ in defs}
    assert sorted(set(ALLOWED) - known) == []


def _call_sites(names: tuple[str, ...]) -> dict[str, list[str]]:
    """'file:top-level def' of every call to each of ``names`` outside
    tests/ and perfbench/ (whose kg_build keeps its own copy of the
    stage sequence)."""
    sites = {name: [] for name in names}
    for f in _sources():
        if f.is_relative_to(ROOT / "perfbench"):
            continue
        for st in ast.parse(f.read_text()).body:
            for n in ast.walk(st):
                if isinstance(n, ast.Call):
                    called = getattr(n.func, "id", getattr(n.func, "attr", None))
                    if called in names:
                        sites[called].append(
                            f"{f.relative_to(ROOT).as_posix()}:{getattr(st, 'name', None)}"
                        )
    return {name: sorted(s) for name, s in sites.items()}


def test_kg_link_tail_is_written_once():
    """link_mentions and materialize_edges are each called once, in
    plans/kg_pipeline.build_kg, so the KG link tail cannot be copied
    again."""
    tail = ("link_mentions", "materialize_edges")
    build_kg = ["glinerswift_spark/plans/kg_pipeline.py:build_kg"]
    assert _call_sites(tail) == {name: build_kg for name in tail}


def test_relation_rule_has_one_engine_emitter():
    """emit_triples_coded is called only by the batch helper
    coded_triples_frame, and both triple paths call that helper, so the
    relation rule has one engine copy (triples_from_entity_list is the
    spec the tests check it against)."""
    assert _call_sites(("emit_triples_coded", "coded_triples_frame")) == {
        "emit_triples_coded": [
            "glinerswift_spark/operators/relations.py:coded_triples_frame"
        ],
        "coded_triples_frame": [
            "glinerswift_spark/operators/relations.py:entities_to_triples",
            "glinerswift_spark/plans/kg_pipeline.py:extract_triples_fused",
        ],
    }


def test_classification_has_one_operator():
    """classify_logits is called only by operators/classify.classify_documents,
    so document classification has one operator and no dense fallback
    that re-derives label logits from the span tensor."""
    assert _call_sites(("classify_logits",)) == {
        "classify_logits": ["glinerswift_spark/operators/classify.py:classify_documents"]
    }
