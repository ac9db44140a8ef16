"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/ -q

No Spark session is started: the output checks are exercised on results
built from the single-process reference, and the traced-run aggregation
on a synthetic span set and event log.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# the per-layer metrics the benchmark is specified to report, by layer
REQUIRED_PER_LAYER = [
    "sources.scan_s", "sources.write_s", "sources.write_bytes",
    "sources.extract_partitions",
    "functions.split_s", "functions.chunk_s", "functions.encode_s",
    "functions.chunks_per_doc", "functions.subwords_per_doc",
    "scoring.encoder_s", "scoring.heads_s", "scoring.decode_s",
    "scoring.forward_calls", "scoring.batch_docs", "scoring.failed_batch_ratio",
    "scoring.sample_docs_per_s", "scoring.lexicon_s",
    "operators.extract.task_s", "operators.extract.task_skew",
    "operators.extract.idle_core_s",
    "operators.relations.triples",
    "operators.linking.s", "operators.linking.candidate_pairs",
    "operators.linking.verified_pairs", "operators.linking.verify_ratio",
    "operators.linking.shuffle_bytes",
    "operators.graph.s", "operators.graph.shuffle_bytes",
    "operators.components.s", "operators.components.jobs",
    "operators.components.shuffle_bytes",
    "operators.dedup.s", "operators.dedup.candidate_pairs",
    "operators.dedup.verified_pairs", "operators.dedup.verify_ratio",
    "operators.dedup.shuffle_bytes", "operators.dedup.spill_bytes",
    "operators.dedup.peak_exec_mem_mb", "operators.dedup.jvm_gc_s",
    "plans.fused.s", "plans.fused.task_skew",
]


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(gen.MAKERS))
def test_generator_is_deterministic_per_seed(name):
    a, b, c = gen.make(name, 7), gen.make(name, 7), gen.make(name, 8)
    assert a.texts == b.texts and a.props == b.props
    assert a.lexicon == b.lexicon
    assert a.kept_ids == b.kept_ids and a.components == b.components
    if a.embeddings is not None:
        assert (a.embeddings == b.embeddings).all()
    assert a.texts != c.texts


def test_generator_records_input_properties():
    kg, enc, dd = (gen.make(n, 3) for n in ("kg_build", "encoder_extract", "dedup_corpus"))
    for wl in (kg, enc, dd):
        assert wl.props["docs"] == len(wl.texts) and wl.props["words"] > 0
        assert "share_over_chunk_max_words" in wl.props
    assert kg.props["lexicon_surfaces"] == len(kg.lexicon) > 1000
    assert enc.props["share_over_chunk_max_words"] > 0 and enc.props["overflow_share"] > 0
    assert dd.props["near_dup_share"] > 0 and dd.props["exact_dup_share"] > 0
    assert dd.props["max_shingle_df"] > dd.props["max_df"]  # the boilerplate footer
    assert len(dd.kept_ids) == dd.props["kept_docs"] < len(dd.texts)


def test_dedup_truth_is_consistent():
    wl = gen.make("dedup_corpus", 5)
    removed = {d for g in wl.components for d in g[1:]}
    assert set(wl.kept_ids) == set(wl.doc_ids) - removed
    for g in wl.components:  # the kept representative is the min id
        assert g == sorted(g) and g[0] in set(wl.kept_ids)


@pytest.fixture()
def work_dir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_dedup_check_rejects_one_extra_kept_doc(work_dir):
    job = workloads.DedupCorpus(gen.make("dedup_corpus", 2), work_dir)
    job.reference()
    good = {"kept": dict(job.expected["kept"])}
    assert job.check(good) == []
    removed = next(d for d in job.wl.doc_ids if d not in good["kept"])
    bad = {"kept": {**good["kept"], removed: 10}}
    assert job.check(bad)
    missing = dict(good["kept"])
    missing.pop(next(iter(missing)))
    assert job.check({"kept": missing})


def _kg_result(n_entities: int, n_triples: int) -> dict:
    nodes = [(f"n{i}", "person", (f"s{i}",), 1) for i in range(n_entities)]
    edges = [(f"n{i % 7}", "works_at", f"n{i % 5}", 1, 0.75) for i in range(n_triples)]
    return {"triples": n_triples, "nodes": nodes, "edges": edges}


def test_kg_check_rejects_one_dropped_edge(work_dir):
    job = workloads.KgBuild(gen.make("kg_build", 2), work_dir)
    job.expected = {"entities": 40, "triples": 25, "digest": None}
    good = _kg_result(40, 25)
    assert job.check(good) == []
    assert job.check(_kg_result(40, 25)) == []  # checksum repeats
    dropped = dict(good, edges=good["edges"][:-1])
    assert job.check(dropped)
    # same counts, different graph: the checksum of the first pass catches it
    moved = dict(good, edges=[("x", "works_at", "y", 1, 0.75)] + good["edges"][1:])
    assert job.check(moved)


def test_kg_check_compares_with_the_pinned_checksum(work_dir):
    job = workloads.KgBuild(gen.make("kg_build", 2), work_dir)
    good = _kg_result(40, 25)
    job.expected = {"entities": 40, "triples": 25, "pinned": True,
                    "digest": workloads.kg_digest(good)}
    # the first pass of a run is held to the pin, not trusted
    moved = dict(good, edges=[("x", "works_at", "y", 1, 0.75)] + good["edges"][1:])
    assert job.check(moved)
    assert job.check(good) == []
    # row order does not matter
    assert job.check(dict(good, nodes=good["nodes"][::-1], edges=good["edges"][::-1])) == []


def test_pinned_checksums_are_well_formed():
    with open(workloads.PINNED_DIGESTS) as f:
        pins = json.load(f)
    assert len(pins) >= 10
    for seed, digest in pins.items():
        assert int(seed) >= 0 and re.fullmatch(r"[0-9a-f]{64}", digest)


def test_encoder_check_rejects_a_changed_count(work_dir):
    job = workloads.EncoderExtract(gen.make("encoder_extract", 2), work_dir)
    job.expected = {"per_doc": {0: 3, 5: 1}, "entities": 4}
    assert job.check({"per_doc": {0: 3, 5: 1}}) == []
    assert job.check({"per_doc": {0: 3, 5: 2}})
    assert job.check({"per_doc": {0: 3, 5: 1, 9: 1}})


class _FakeSpark:
    """Just enough of a session for bench._drop_leaked_state."""

    sparkContext = SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=dict))
    _jvm = SimpleNamespace(System=SimpleNamespace(gc=lambda: None))


class _WrongJob:
    def setup(self, spark):
        pass

    def run(self, spark):
        return {"kept": {}}

    def check(self, res):
        return ["1 planted keeper missing"]

    def counts(self, res):
        return {}

    def release(self):
        pass


def test_warmup_passes_are_checked_operations(monkeypatch):
    monkeypatch.setattr(run, "build_spark", lambda *a: _FakeSpark())
    _, setup_s, warmup = run.set_up(_WrongJob(), "", None)
    assert setup_s > 0
    assert [r["error"] for r in warmup] == ["1 planted keeper missing"] * run.WARMUP_PASSES


def _synthetic_traced() -> dict:
    def span(i, name, parent, start, end, **kw):
        return {"id": i, "name": name, "parent": parent, "run": "r",
                "start": start, "end": end, **kw}

    stage = {"tasks": 4, "task_s": 8.0, "task_max_s": 3.0, "task_median_s": 2.0,
             "wall_s": 3.0, "shuffle_write": 100, "shuffle_read": 100,
             "spill": 0, "peak_mem": 2**20, "gc_s": 0.1}
    spans = [
        span(0, "job", None, 0.0, 10.0),
        span(1, "sources.scan", 0, 0.0, 1.0),
        span(2, "operators.extract", 0, 1.0, 4.0, stages={7: stage}, spark_jobs=1),
        span(3, "operators.linking", 0, 4.0, 8.0, spark_jobs=3),
        span(4, "operators.components", 3, 5.0, 7.0, spark_jobs=6),
        span(5, "sources.write", 0, 8.0, 9.5, write_bytes=1234),
    ]
    return {"spans": spans, "counts": {"operators.linking.candidates": 10,
                                       "operators.linking.verify": 4},
            "result_counts": {"triples": 3}, "cores": 4,
            "sample": {"docs": 0}, "error": None}


def test_self_times_and_remainder_sum_to_traced_job():
    traced = _synthetic_traced()
    m = {k: v["value"] for k, v in tracing.per_layer_metrics(traced, 9.0).items()}
    layers = m["sources.self_s"] + m["operators.self_s"] + m["plans.self_s"]
    assert layers + m["trace.unattributed_s"] == pytest.approx(m["trace.job_s"])
    assert m["trace.unattributed_s"] == pytest.approx(0.5)
    assert m["operators.linking.s"] == pytest.approx(2.0)      # 4 s minus the CC child
    assert m["operators.components.s"] == pytest.approx(2.0)
    assert m["operators.components.jobs"] == 6
    assert m["operators.linking.verify_ratio"] == pytest.approx(0.4)
    assert m["operators.extract.task_skew"] == pytest.approx(1.5)
    assert m["operators.extract.idle_core_s"] == pytest.approx(4.0)  # 3 s x 4 cores - 8
    assert m["trace.overhead_s"] == pytest.approx(1.0)
    assert sum(tracing.layer_self_times(traced).values()) == pytest.approx(10.0)


def test_every_required_metric_is_in_the_traced_output():
    metrics = tracing.per_layer_metrics(_synthetic_traced(), 9.0)
    dedup = {n for n in REQUIRED_PER_LAYER if n.startswith("operators.dedup.")}
    assert set(REQUIRED_PER_LAYER) - dedup <= set(metrics)
    assert not dedup & set(metrics)  # no workload but dedup_corpus calls them
    declared = [m["name"] for m in _benchmark_json()["per_layer"]]
    assert sorted(declared) == sorted(metrics)
    for name, m in metrics.items():
        assert m["unit"] == tracing.PER_LAYER[name]
    dd = tracing.per_layer_metrics(dict(_synthetic_traced(), workload="dedup_corpus"), 9.0)
    assert set(REQUIRED_PER_LAYER) <= set(dd)


def test_every_metric_name_is_well_formed():
    bj = _benchmark_json()
    e2e = run.end_to_end([{"job_s": 2.0, "peak_rss_mb": 900.0, "error": None}], 5.0, 100)
    names = (list(e2e) + list(tracing.PER_LAYER) + list(tracing.DEDUP_PER_LAYER)
             + [m["name"] for m in bj["end_to_end"] + bj["per_layer"]])
    for name in names:
        assert NAME_RE.fullmatch(name), name
    assert sorted(m["name"] for m in bj["end_to_end"]) == sorted(e2e)
    for w in bj["workloads"]:
        assert w["name"] in workloads.JOBS


def test_event_log_is_grouped_by_span(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    props = {"perfbench.span": "2", "spark.job.description": "operators.extract"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {}},
    ]
    for t, run_ms in enumerate((1000, 3000)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 3,
            "Task Info": {"Launch Time": 100 + t, "Finish Time": 100 + t + run_ms},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                             "Peak Execution Memory": 10, "Memory Bytes Spilled": 1,
                             "Disk Bytes Spilled": 2,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                             "Shuffle Read Metrics": {"Local Bytes Read": 3}},
        })
    events.append({"Event": "SparkListenerTaskEnd", "Stage ID": 4,
                   "Task Info": {}, "Task Metrics": {"Executor Run Time": 9}})
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    by_span = tracing.read_event_log(str(tmp_path))
    assert set(by_span) == {2}
    st = by_span[2]["stages"][3]
    assert by_span[2]["jobs"] == 1
    assert st["tasks"] == [1.0, 3.0] and st["shuffle_write"] == 14 and st["spill"] == 6


def test_memory_sample_skips_the_jvm_mid_fork(monkeypatch):
    # driver 10 -> JVM 11 -> Python daemon 12 -> worker 13; 14 is the JVM
    # between fork and exec of a child, still named java and the size of
    # the JVM: counting it would double the JVM
    table = {10: (1, "python3"), 11: (10, "java"), 12: (11, "python3"),
             13: (12, "python3"), 14: (11, "java")}
    monkeypatch.setattr(measure, "_proc_table", lambda: table)
    monkeypatch.setattr(measure, "_rss_bytes", lambda pid: 1000 * pid)
    monkeypatch.setattr(measure, "_pss_bytes", lambda pid: pid)
    procs = measure.tree_rss(10)
    assert procs == {10: ("python3", 10), 11: ("java", 11000),
                     12: ("python3", 12), 13: ("python3", 13)}


def test_bare_benchmark_tree_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
