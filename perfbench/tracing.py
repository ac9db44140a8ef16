"""The traced run: per-layer numbers for one job.

Three sources, all driven from the benchmark's own files:

* **Spans.** ``Tracer.wrap`` replaces a public function of an engine module
  with a wrapper that records a span (name, start, end, parent, run id)
  around the call, forces the call's DataFrame output with an eager
  ``localCheckpoint`` and tags the Spark jobs it launches with
  ``setJobDescription(<span name>)`` plus a ``perfbench.span`` local
  property carrying the span id. Engine-internal calls that resolve the
  name through the module (``link_mentions`` -> ``connected_components``)
  become child spans. Spans stay in memory until the run ends.
* **Spark per-task metrics.** The session writes an uncompressed event
  log; ``SparkListenerTaskEnd`` records are grouped by the span id of the
  stage that ran them (run time, shuffle bytes, spill, peak execution
  memory, GC).
* **Single-process sample.** Code inside Python workers cannot be timed
  from the driver, so the pure entry points (``extract_documents_batch``
  and below it word splitting, chunking, schema encoding, the encoder,
  the heads, decoding, lexicon scoring) run in-process on a fixed slice of
  the same documents with a self-time profiler around each.

A layer's self time is its spans' duration minus their child spans'; the
root span's own remainder is reported as ``trace.unattributed_s``, so the
self times plus the remainder sum to the traced job time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from statistics import median

LAYERS = ("sources", "operators", "plans")
SAMPLE_DOCS = {"kg_build": 100, "encoder_extract": 150, "dedup_corpus": 0}

# the per-layer metrics every traced run reports, with their units (the
# per_layer list of BENCHMARK.json)
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.extract_partitions": "count",
    "functions.split_s": "s",
    "functions.chunk_s": "s",
    "functions.encode_s": "s",
    "functions.chunks_per_doc": "count",
    "functions.subwords_per_doc": "count",
    "scoring.encoder_s": "s",
    "scoring.heads_s": "s",
    "scoring.decode_s": "s",
    "scoring.lexicon_s": "s",
    "scoring.forward_calls": "count",
    "scoring.batch_docs": "count",
    "scoring.failed_batch_ratio": "ratio",
    "scoring.sample_docs_per_s": "docs/s",
    "operators.extract.task_s": "s",
    "operators.extract.task_skew": "ratio",
    "operators.extract.idle_core_s": "s",
    "operators.relations.triples": "count",
    "operators.linking.s": "s",
    "operators.linking.candidate_pairs": "count",
    "operators.linking.verified_pairs": "count",
    "operators.linking.verify_ratio": "ratio",
    "operators.linking.shuffle_bytes": "bytes",
    "operators.graph.s": "s",
    "operators.graph.shuffle_bytes": "bytes",
    "operators.components.s": "s",
    "operators.components.jobs": "count",
    "operators.components.shuffle_bytes": "bytes",
    "plans.fused.s": "s",
    "plans.fused.task_skew": "ratio",
    "sources.self_s": "s",
    "operators.self_s": "s",
    "plans.self_s": "s",
    "trace.unattributed_s": "s",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}

# reported by dedup_corpus runs only: no other workload calls operators.dedup
DEDUP_PER_LAYER = {
    "operators.dedup.s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_ratio": "ratio",
    "operators.dedup.shuffle_bytes": "bytes",
    "operators.dedup.spill_bytes": "bytes",
    "operators.dedup.peak_exec_mem_mb": "MB",
    "operators.dedup.jvm_gc_s": "s",
}


def _force(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_force(o) for o in out)
    return out


class Tracer:
    """Spans around patched engine functions; see the module docstring."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = (self.sc.getLocalProperty("spark.job.description"),
                self.sc.getLocalProperty("perfbench.span"))
        self.sc.setJobDescription(name)
        self.sc.setLocalProperty("perfbench.span", str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev[0])
            self.sc.setLocalProperty("perfbench.span", prev[1])

    def wrap(self, module, attr: str, name: str, force: bool = True,
             keep: bool = False, on_exit=None) -> None:
        """Patch ``module.attr`` with a spanned, output-forcing wrapper.
        ``keep`` holds the forced output on the span for counts taken
        after the job; ``on_exit(rec, args)`` records call attributes."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if force:
                    out = _force(out)
                if on_exit is not None:
                    on_exit(rec, args)
            if keep:
                rec["out"] = out
            return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _install(tr: Tracer, workload: str) -> None:
    from glinerswift_spark.operators import (
        components,
        dedup,
        extract,
        graph,
        linking,
    )
    from glinerswift_spark.plans import kg_pipeline
    from glinerswift_spark.sources import pages

    def write_bytes(rec, args):
        rec["write_bytes"] = _dir_bytes(args[1])

    tr.wrap(pages, "read_documents", "sources.scan")
    tr.wrap(pages, "read_embeddings", "sources.scan")
    tr.wrap(pages, "write_table", "sources.write", force=False, on_exit=write_bytes)
    tr.wrap(extract, "extract_entities", "operators.extract")
    tr.wrap(components, "connected_components", "operators.components", keep=True)
    if workload == "kg_build":
        tr.wrap(kg_pipeline, "extract_triples_fused", "plans.fused")
        tr.wrap(kg_pipeline, "attach_embeddings", "plans.attach_embeddings")
        tr.wrap(graph, "mentions_from_entities", "operators.graph.mentions")
        tr.wrap(graph, "surface_to_canonical", "operators.graph.surface_map")
        tr.wrap(graph, "materialize_edges", "operators.graph.edges")
        tr.wrap(linking, "link_mentions", "operators.linking")
        tr.wrap(linking, "mention_candidate_pairs", "operators.linking.candidates", keep=True)
        tr.wrap(linking, "verify_pairs_by_cosine", "operators.linking.verify", keep=True)
        tr.wrap(linking, "connected_components", "operators.components", keep=True)
    if workload == "dedup_corpus":
        tr.wrap(dedup, "dedup_corpus_keep", "operators.dedup")
        tr.wrap(dedup, "exact_dedup", "operators.dedup.exact")
        tr.wrap(dedup, "ngram_jaccard_pairs", "operators.dedup.pairs", keep=True)


def traced_run(job, spark, run_id: str) -> dict:
    """One traced repetition of ``job`` plus the counts and the
    single-process sample; event-log metrics are joined in ``finish``."""
    import bench

    tr = Tracer(spark, run_id)
    _install(tr, job.name)
    error = None
    res = None
    try:
        with tr.span("job"):
            res = job.run(spark)
        errs = job.check(res)
        if errs:
            error = "; ".join(errs)
    except Exception as e:  # a failed operation is reported, not raised
        error = f"{type(e).__name__}: {e}"
    finally:
        tr.restore()
    counts = {}
    try:
        counts = _counts(tr, job, spark)
        if counts.get("components_match_truth") is False and error is None:
            error = "near-dup components differ from the planted families"
    finally:
        for s in tr.spans:
            s.pop("out", None)
        job.release()
        bench._drop_leaked_state(spark)
    return {
        "run_id": run_id, "workload": job.name, "spans": tr.spans,
        "error": error, "counts": counts,
        "result_counts": job.counts(res) if res is not None and not error else {},
        "sample": sample(job),
    }


def _counts(tr: Tracer, job, spark) -> dict:
    """Row counts of kept span outputs, taken after the traced job."""
    out: dict = {}
    for s in tr.spans:
        if "out" in s and s["name"] != "operators.components":
            out[s["name"]] = out.get(s["name"], 0) + s["out"].count()
    if job.name == "dedup_corpus":
        from glinerswift_spark.operators.dedup import ngram_jaccard_pairs

        # every pair sharing a guarded shingle: jaccard >= 0 keeps them all
        out["operators.dedup.candidates"] = ngram_jaccard_pairs(
            job.docs(spark), threshold=0.0, max_df=job.wl.props["max_df"]
        ).count()
        comps = [s["out"] for s in tr.spans if s["name"] == "operators.components"]
        if comps:
            got: dict = {}
            for r in comps[-1].collect():
                got.setdefault(r.component, []).append(r.node)
            found = sorted(sorted(v) for v in got.values())
            out["components_match_truth"] = found == job.wl.components
    return out


# -- single-process sample -----------------------------------------------------

class _SelfTimer:
    """Stack-based self-time profiler over patched callables."""

    def __init__(self):
        self.self_s: dict = {}
        self.calls: dict = {}
        self.raised: dict = {}
        self.attrs: dict = {}
        self._stack: list = []
        self._patches: list = []

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        orig = getattr(owner, attr)
        timer = self

        def wrapper(*args, **kwargs):
            frame = [0.0]  # time spent in patched children
            timer._stack.append(frame)
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            except Exception:
                timer.raised[name] = timer.raised.get(name, 0) + 1
                raise
            finally:
                dt = time.perf_counter() - t0
                timer._stack.pop()
                timer.self_s[name] = timer.self_s.get(name, 0.0) + dt - frame[0]
                timer.calls[name] = timer.calls.get(name, 0) + 1
                if timer._stack:
                    timer._stack[-1][0] += dt
            if on_call is not None:
                on_call(timer.attrs, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def _add(attrs: dict, key: str, v) -> None:
    attrs[key] = attrs.get(key, 0) + v


def sample(job) -> dict:
    """Run extract_documents_batch in-process on the first SAMPLE_DOCS
    documents: once plain (the single-process rate), once under the
    self-time profiler."""
    n = min(SAMPLE_DOCS[job.name], len(job.wl.texts))
    if n == 0:
        return {"docs": 0}
    from glinerswift_spark.functions import schema_encoding
    from glinerswift_spark.scoring import backends, encoder, heads, pipeline
    from glinerswift_spark.scoring.backends import get_backend

    texts = job.wl.texts[:n]
    labels, thr, spec = job.sample_args()
    be = get_backend(spec)
    pipeline.extract_documents_batch(texts, labels, be, threshold=thr)  # warm
    t0 = time.perf_counter()
    pipeline.extract_documents_batch(texts, labels, be, threshold=thr)
    plain_s = time.perf_counter() - t0

    st = _SelfTimer()
    st.wrap(pipeline, "word_spans", "functions.split")
    st.wrap(pipeline, "chunk_text", "functions.chunk",
            on_call=lambda a, args, out: _add(a, "extra_chunks", max(0, len(out) - 1)))
    st.wrap(schema_encoding, "encode_schema_input", "functions.encode")
    st.wrap(encoder.FileEncoderProvider, "forward_batch", "scoring.encoder",
            on_call=lambda a, args, out: _add(
                a, "subwords", sum(len(e.input_ids) for e in args[1])))
    st.wrap(encoder.FileEncoderProvider, "__call__", "scoring.encoder",
            on_call=lambda a, args, out: _add(a, "subwords", len(args[1].input_ids)))
    st.wrap(encoder.NumpyEncoder, "forward", "scoring.forward")
    st.wrap(encoder.NumpyEncoder, "forward_many", "scoring.forward")
    st.wrap(heads.SpanRepHead, "batch", "scoring.heads")
    st.wrap(heads.SpanRepHead, "__call__", "scoring.heads")
    st.wrap(heads.FFN, "__call__", "scoring.heads")
    st.wrap(pipeline, "decode_document_logits", "scoring.decode")
    st.wrap(pipeline, "decode_candidates", "scoring.decode")
    st.wrap(backends.GazetteerBackend, "score_document_sparse", "scoring.lexicon")
    st.wrap(backends.PromptEncodingBackend, "score_documents", "scoring.batch",
            on_call=lambda a, args, out: _add(a, "batched_docs", len(args[1])))
    t0 = time.perf_counter()
    try:
        pipeline.extract_documents_batch(texts, labels, be, threshold=thr)
    finally:
        st.restore()
    traced_s = time.perf_counter() - t0
    return {
        "docs": n, "plain_s": plain_s, "traced_s": traced_s,
        "self_s": st.self_s, "calls": st.calls, "raised": st.raised,
        "attrs": st.attrs,
    }


# -- event log -------------------------------------------------------------

def read_event_log(event_dir: str) -> dict:
    """span id -> {"jobs", "stages": {stage id: {...}}} from the event log
    of the session that ran the traced job."""
    # Spark 4 writes a rolling eventlog_v2_<app>/events_<n>_<app> directory
    files = sorted(
        f for f in glob.glob(os.path.join(event_dir, "**"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    stage_span: dict = {}
    job_span: dict = {}
    stages: dict = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get("perfbench.span")
                    if sid:
                        job_span[ev["Job ID"]] = int(sid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = (ev.get("Properties") or {}).get("perfbench.span")
                    if sid:
                        stage_span[ev["Stage Info"]["Stage ID"]] = int(sid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": [], "shuffle_write": 0, "shuffle_read": 0,
                        "spill": 0, "peak_mem": 0, "gc_ms": 0,
                        "first_launch": None, "last_finish": None,
                    })
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["tasks"].append(m.get("Executor Run Time", 0) / 1000.0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st["peak_mem"] = max(st["peak_mem"], m.get("Peak Execution Memory", 0))
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    lt, ft = info.get("Launch Time"), info.get("Finish Time")
                    if lt:
                        st["first_launch"] = lt if st["first_launch"] is None else min(st["first_launch"], lt)
                    if ft:
                        st["last_finish"] = ft if st["last_finish"] is None else max(st["last_finish"], ft)
    by_span: dict = {}
    for job_id, sid in job_span.items():
        by_span.setdefault(sid, {"jobs": 0, "stages": {}})["jobs"] += 1
    for stage_id, st in stages.items():
        sid = stage_span.get(stage_id)
        if sid is not None:
            by_span.setdefault(sid, {"jobs": 0, "stages": {}})["stages"][stage_id] = st
    return by_span


def finish(traced: dict, event_dir: str, cores: int) -> None:
    """Join the event log's per-task metrics onto the traced spans."""
    by_span = read_event_log(event_dir)
    for s in traced["spans"]:
        ev = by_span.get(s["id"], {"jobs": 0, "stages": {}})
        s["spark_jobs"] = ev["jobs"]
        s["stages"] = {
            sid: {
                "tasks": len(st["tasks"]),
                "task_s": sum(st["tasks"]),
                "task_max_s": max(st["tasks"], default=0.0),
                "task_median_s": median(st["tasks"]) if st["tasks"] else 0.0,
                "wall_s": ((st["last_finish"] or 0) - (st["first_launch"] or 0)) / 1000.0,
                "shuffle_write": st["shuffle_write"],
                "shuffle_read": st["shuffle_read"],
                "spill": st["spill"],
                "peak_mem": st["peak_mem"],
                "gc_s": st["gc_ms"] / 1000.0,
            }
            for sid, st in ev["stages"].items()
        }
    traced["cores"] = cores


# -- aggregation ---------------------------------------------------------------

def _self_times(spans: list) -> dict:
    child: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


def _matches(name: str, prefix: str) -> bool:
    return name == prefix or name.startswith(prefix + ".")


def layer_self_times(traced: dict) -> dict:
    """span name -> summed self seconds (root remainder as 'unattributed')."""
    selfs = _self_times(traced["spans"])
    out: dict = {}
    for s in traced["spans"]:
        name = "unattributed" if s["name"] == "job" else s["name"]
        out[name] = out.get(name, 0.0) + selfs[s["id"]]
    return out


def per_layer_metrics(traced: dict, untraced_job_s: float) -> dict:
    spans = traced["spans"]
    selfs = _self_times(spans)
    root = next(s for s in spans if s["name"] == "job")
    job_s = root["end"] - root["start"]

    def self_of(prefix):
        return sum(selfs[s["id"]] for s in spans if _matches(s["name"], prefix))

    def stages_of(prefix):
        return [st for s in spans if _matches(s["name"], prefix)
                for st in s.get("stages", {}).values()]

    def sum_stage(prefix, key):
        return sum(st[key] for st in stages_of(prefix))

    def main_stage(prefix):
        """The prefix's stage with the most task time (the UDF stage)."""
        sts = stages_of(prefix)
        return max(sts, key=lambda st: st["task_s"]) if sts else None

    def skew(st):
        return st["task_max_s"] / st["task_median_s"] if st and st["task_median_s"] else 0.0

    cores = traced.get("cores", 1)
    ext = main_stage("operators.extract")
    counts = traced["counts"]
    cand_l = counts.get("operators.linking.candidates", 0)
    ver_l = counts.get("operators.linking.verify", 0)
    cand_d = counts.get("operators.dedup.candidates", 0)
    ver_d = counts.get("operators.dedup.pairs", 0)
    smp = traced["sample"]
    n = smp.get("docs", 0)
    sself = smp.get("self_s", {})
    calls = smp.get("calls", {})
    attrs = smp.get("attrs", {})
    batch_calls = calls.get("scoring.batch", 0)
    batch_failed = smp.get("raised", {}).get("scoring.batch", 0)

    v = {
        "sources.scan_s": self_of("sources.scan"),
        "sources.write_s": self_of("sources.write"),
        "sources.write_bytes": sum(s.get("write_bytes", 0) for s in spans
                                   if s["name"] == "sources.write"),
        "sources.extract_partitions": ext["tasks"] if ext else 0,
        "functions.split_s": sself.get("functions.split", 0.0),
        "functions.chunk_s": sself.get("functions.chunk", 0.0),
        "functions.encode_s": sself.get("functions.encode", 0.0),
        "functions.chunks_per_doc": (n + attrs.get("extra_chunks", 0)) / n if n else 0.0,
        "functions.subwords_per_doc": attrs.get("subwords", 0) / n if n else 0.0,
        "scoring.encoder_s": sself.get("scoring.encoder", 0.0) + sself.get("scoring.forward", 0.0),
        "scoring.heads_s": sself.get("scoring.heads", 0.0),
        "scoring.decode_s": sself.get("scoring.decode", 0.0),
        "scoring.lexicon_s": sself.get("scoring.lexicon", 0.0),
        "scoring.forward_calls": calls.get("scoring.forward", 0),
        "scoring.batch_docs": (attrs.get("batched_docs", 0) / batch_calls
                               if batch_calls else 0.0),
        "scoring.failed_batch_ratio": batch_failed / batch_calls if batch_calls else 0.0,
        "scoring.sample_docs_per_s": n / smp["plain_s"] if n else 0.0,
        "operators.extract.task_s": sum_stage("operators.extract", "task_s"),
        "operators.extract.task_skew": skew(ext),
        "operators.extract.idle_core_s": (
            max(0.0, ext["wall_s"] * min(cores, ext["tasks"]) - ext["task_s"]) if ext else 0.0
        ),
        "operators.relations.triples": traced["result_counts"].get("triples", 0),
        "operators.linking.s": self_of("operators.linking"),
        "operators.linking.candidate_pairs": cand_l,
        "operators.linking.verified_pairs": ver_l,
        "operators.linking.verify_ratio": ver_l / cand_l if cand_l else 0.0,
        "operators.linking.shuffle_bytes": sum_stage("operators.linking", "shuffle_write"),
        "operators.graph.s": self_of("operators.graph"),
        "operators.graph.shuffle_bytes": sum_stage("operators.graph", "shuffle_write"),
        "operators.components.s": self_of("operators.components"),
        "operators.components.jobs": sum(s.get("spark_jobs", 0) for s in spans
                                         if s["name"] == "operators.components"),
        "operators.components.shuffle_bytes": sum_stage("operators.components", "shuffle_write"),
        "operators.dedup.s": self_of("operators.dedup"),
        "operators.dedup.candidate_pairs": cand_d,
        "operators.dedup.verified_pairs": ver_d,
        "operators.dedup.verify_ratio": ver_d / cand_d if cand_d else 0.0,
        "operators.dedup.shuffle_bytes": sum_stage("operators.dedup", "shuffle_write"),
        "operators.dedup.spill_bytes": sum_stage("operators.dedup", "spill"),
        "operators.dedup.peak_exec_mem_mb": max(
            (st["peak_mem"] for st in stages_of("operators.dedup")), default=0) / 2**20,
        "operators.dedup.jvm_gc_s": sum_stage("operators.dedup", "gc_s"),
        "plans.fused.s": self_of("plans.fused"),
        "plans.fused.task_skew": skew(main_stage("plans.fused")),
        "sources.self_s": self_of("sources"),
        "operators.self_s": self_of("operators"),
        "plans.self_s": self_of("plans"),
        "trace.unattributed_s": selfs[root["id"]],
        "trace.job_s": job_s,
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": job_s - untraced_job_s,
    }
    units = PER_LAYER
    if traced.get("workload") == "dedup_corpus":
        units = PER_LAYER | DEDUP_PER_LAYER
    return {k: {"value": float(v[k]), "unit": u} for k, u in units.items()}


def layer_table(traced: dict) -> str:
    """Per-span-name self seconds, Spark task seconds and shuffle bytes."""
    selfs = layer_self_times(traced)
    task_s: dict = {}
    shuffle: dict = {}
    for s in traced["spans"]:
        name = "unattributed" if s["name"] == "job" else s["name"]
        for st in s.get("stages", {}).values():
            task_s[name] = task_s.get(name, 0.0) + st["task_s"]
            shuffle[name] = shuffle.get(name, 0) + st["shuffle_write"]
    total = sum(selfs.values())
    lines = [f"{'span':34s} {'self_s':>9s} {'share':>7s} {'task_s':>9s} {'shuffle_B':>12s}"]
    for name, sec in sorted(selfs.items(), key=lambda kv: -kv[1]):
        lines.append(
            f"{name:34s} {sec:9.3f} {sec / total:7.1%} "
            f"{task_s.get(name, 0.0):9.3f} {shuffle.get(name, 0):12d}"
        )
    lines.append(f"{'total (= traced job_s)':34s} {total:9.3f}")
    return "\n".join(lines)


def sidecar(traced: dict) -> dict:
    """The traced run for the detail sidecar, with the per-span self times."""
    return dict(traced, self_s=layer_self_times(traced))
