"""Traced run: per-layer self times of the KG build, measured from outside.

Each layer's public function is called on an input materialized by the
previous span (``localCheckpoint``), inside a span that records name,
start, end, parent and operation id; Spark jobs launched inside a span
carry the span's name as their job group, so the event log (enabled only
in this session) attributes jobs, stages and tasks to spans.

A layer's self time is its span's duration minus the durations of its
child spans. ``linking`` is the one parent whose children run before it:
collapse, blocking, verification and components are timed on
materialized inputs first, then the ``link_mentions`` call itself, so
``linking.map_s`` is what is left of ``link_mentions`` once those four are
taken out.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import ExitStack, contextmanager

from kgbench import host
from kgbench.kg_ops import write_kg

PER_1K = "ms/1k_docs"
SCORING_DOCS = 200  # the scoring probe runs the first this many generated texts


def _identity(batches):
    yield from batches


def force(df):
    return df.localCheckpoint(eager=True)


class Tracer:
    """Spans kept in memory; the Spark job group follows the open span."""

    def __init__(self, sc):
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: list = []
        self._open: list = []

    @contextmanager
    def span(self, name: str, op: str, parent: str | None = None):
        if parent is None and self._open:
            parent = self._open[-1]
        self._open.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.sc.setJobGroup(self._open[-1] if self._open else "", "")
            self.spans.append({
                "name": name, "start": start - self.t0, "end": end - self.t0,
                "parent": parent, "op": op,
            })

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == name)
        return self.duration(name) - kids


def _surfaces(mentions):
    """The distinct (lowercased surface, label) relation link_mentions
    blocks and verifies over, in the shape it passes to
    mention_candidate_pairs / verify_pairs_by_cosine."""
    from pyspark.sql import functions as F

    return mentions.groupBy(F.lower(F.col("text")).alias("surface"), "label").agg(
        F.min("mention_id").alias("surface_id"),
        F.min_by("embedding", "mention_id").alias("embedding"),
    ).select(
        F.col("surface_id").alias("mention_id"),
        F.col("surface").alias("text"),
        "label",
        "embedding",
    )


def decompose(job, tr: Tracer, out: str) -> dict:
    """One operation, layer by layer, each on a materialized input."""
    from glinerswift_spark.config import LinkingConfig
    from glinerswift_spark.operators.components import connected_components
    from glinerswift_spark.operators.extract import extract_entities
    from glinerswift_spark.operators.graph import (
        materialize_edges,
        mentions_from_entities,
        surface_to_canonical,
    )
    from glinerswift_spark.operators.linking import (
        link_mentions,
        mention_candidate_pairs,
        verify_pairs_by_cosine,
    )
    from glinerswift_spark.operators.relations import entities_to_triples
    from glinerswift_spark.plans.kg_pipeline import attach_embeddings
    from glinerswift_spark.sources.pages import extract_pages_text

    kw = job.build_kwargs()
    lcfg = LinkingConfig()
    op = "traced"
    with tr.span("op", op):
        if job.incremental:
            with tr.span("sources.read_prior", op):
                prior_m, prior_t = (force(df) for df in job.read_prior())
        with tr.span("sources.html_text", op):
            docs = force(extract_pages_text(job.read("pages")).select("url", "text"))
        with tr.span("extract", op):
            ents = force(extract_entities(
                docs, kw["labels"], kw["backend_spec"], id_cols=["url"],
                threshold=kw["threshold"]))
        with tr.span("relations", op):
            new_triples = force(entities_to_triples(ents, doc_col="url"))
        with tr.span("graph.mentions", op):
            mentions = force(attach_embeddings(
                mentions_from_entities(ents, "url"), job.read("embeddings")))
        triples = new_triples
        if job.incremental:
            mentions = prior_m.unionByName(mentions)
            triples = prior_t.unionByName(new_triples)
        with tr.span("linking.collapse", op, parent="linking"):
            surfaces = force(_surfaces(mentions))
        with tr.span("linking.blocking", op, parent="linking"):
            pairs = force(mention_candidate_pairs(surfaces, lcfg))
        with tr.span("linking.verify", op, parent="linking"):
            verified = force(verify_pairs_by_cosine(pairs, surfaces, lcfg))
        with tr.span("components", op, parent="linking"):
            force(connected_components(
                verified, src="mention_a", dst="mention_b",
                max_iterations=lcfg.max_cc_iterations))
        with tr.span("linking", op):
            mention_map, nodes, _ = link_mentions(mentions, lcfg)
            mention_map, nodes = force(mention_map), force(nodes)
        with tr.span("graph.surface_map", op):
            smap = force(surface_to_canonical(mentions.join(mention_map, "mention_id")))
        with tr.span("graph.edges", op):
            edges = force(materialize_edges(triples, smap, "url"))
        with tr.span("sources.write", op):
            write_kg({"mentions": mentions, "triples": triples, "nodes": nodes,
                      "edges": edges}, out)
    counts = {
        "extract.entities": ents.count(),
        "relations.triples": new_triples.count(),
        "linking.surfaces": surfaces.count(),
        "linking.candidates": pairs.count(),
        "linking.verified": verified.count(),
        "graph.nodes": nodes.count(),
        "graph.edges": edges.count(),
    }
    return {"docs": docs, "counts": counts}


def probes(job, tr: Tracer, docs) -> None:
    """Spans outside the operation: the pipeline call alone (its eager
    actions), the Python-worker/Arrow floor, and the fused extraction."""
    from glinerswift_spark.plans.kg_pipeline import extract_triples_fused
    from glinerswift_spark.sources.pages import STRAGGLER_WAVES, widen_small_scan

    kw = job.build_kwargs()
    with tr.span("plan.build_call", "probe"):
        if job.incremental:
            job.build_call(job.read("pages"), *job.read_prior())
        else:
            job.build_call(job.read("pages"))
    # same widening extract_entities applies for this backend
    waves = (STRAGGLER_WAVES if getattr(kw["backend_spec"], "hidden_states_provider", None)
             is not None else 1)
    cols = docs.select("url", "text")
    with tr.span("extract.udf_floor", "probe"):
        force(widen_small_scan(cols, "url", waves).mapInPandas(_identity, schema=cols.schema))
    with tr.span("extract.fused", "probe"):
        force(extract_triples_fused(
            docs, kw["labels"], kw["backend_spec"], doc_col="url",
            threshold=kw["threshold"]))


class SelfTimer:
    """Self time per step of wrapped callables: a call's duration minus
    the duration of the wrapped calls nested inside it."""

    def __init__(self, steps):
        self.t = dict.fromkeys(steps, 0.0)
        self._nested: list = []  # per open call: time of its wrapped children

    def wrap(self, step: str, fn):
        def timed(*args, **kwargs):
            self._nested.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.t[step] += dt - self._nested.pop()
                if self._nested:
                    self._nested[-1] += dt
        return timed


# scoring step -> the callables extract_document reaches it through:
# names in scoring.pipeline's namespace, and methods of the backend
SCORING_STEPS = {
    "split": (("pipeline", "word_spans"),),
    "chunk": (("pipeline", "chunk_text"),),
    "encode": (("backend", "encode"),),
    "score": (("backend", "score_document"), ("backend", "score_document_sparse")),
    "decode": (("pipeline", "decode_candidates"), ("pipeline", "decode_document_logits"),
               ("pipeline", "shift_entities"), ("pipeline", "merge_chunk_entities")),
}


def scoring_probe(job) -> dict:
    """Single-process timing of the per-document scoring steps over the
    first ``SCORING_DOCS`` generated texts, no Spark: the real
    ``scoring.pipeline.extract_document`` runs on each text while the
    callables of ``SCORING_STEPS`` are wrapped to record their self
    times. The encoding backend's score call runs its encode inside it;
    that time counts as encode, not score."""
    from unittest import mock

    from glinerswift_spark.config import DEFAULT_CONFIG as cfg
    from glinerswift_spark.functions.schema_encoding import EncodingOverflowError
    from glinerswift_spark.scoring import pipeline

    backend = job.local_spec().build()
    timer = SelfTimer(SCORING_STEPS)
    overflowed = [False]

    def flag_overflow(fn):
        def call(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except EncodingOverflowError:
                overflowed[0] = True
                raise
        return call

    texts = job.inputs.texts["text"].tolist()[:SCORING_DOCS]
    chunked = sum(len(pipeline.word_spans(t)) > cfg.chunk_max_words for t in texts)
    overflow_docs = 0
    owners = {"pipeline": pipeline, "backend": backend}
    with ExitStack() as patches:
        for step, targets in SCORING_STEPS.items():
            for owner, name in targets:
                fn = getattr(owners[owner], name, None)
                if fn is None:
                    continue  # a method this backend does not have
                if step == "encode":
                    fn = flag_overflow(fn)
                patches.enter_context(
                    mock.patch.object(owners[owner], name, timer.wrap(step, fn)))
        for text in texts:
            overflowed[0] = False
            pipeline.extract_document(text, job.inputs.labels, backend, job.inputs.threshold)
            overflow_docs += overflowed[0]

    per_1k = 1e6 / max(1, len(texts))  # seconds -> ms per 1k docs
    out = {f"scoring.{k}_ms": v * per_1k for k, v in timer.t.items()}
    out["scoring.chunked_docs"] = chunked
    out["scoring.overflow_docs"] = overflow_docs
    return out


def parse_event_log(log_dir: str) -> tuple[dict, dict]:
    """(job id -> job group, stage id -> stage record) from the event log."""
    jobs, stages = {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages.setdefault(info["Stage ID"], {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "tasks": [], "run_ms": 0, "shuffle_w": 0, "spill": 0, "failed": 0,
                        "span_ms": 0,
                    })
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.get(info["Stage ID"])
                    if st is not None and info.get("Completion Time"):
                        st["span_ms"] = info["Completion Time"] - info["Submission Time"]
                elif ev == "SparkListenerTaskEnd":
                    st = stages.get(e["Stage ID"])
                    if st is None:
                        continue
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    st["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    st["failed"] += bool(ti.get("Failed") or ti.get("Killed"))
    return jobs, stages


def spark_metrics(jobs: dict, stages: dict, group: str, wall_s: float, cpus: int) -> dict:
    mine = [s for s in stages.values() if s["group"] == group]
    tasks = sum(len(s["tasks"]) for s in mine)
    longest = max(mine, key=lambda s: s["span_ms"], default=None)
    skew = 0.0
    if longest and longest["tasks"]:
        skew = max(longest["tasks"]) / max(1, statistics.median(longest["tasks"]))
    return {
        "spark.jobs": sum(1 for g in jobs.values() if g == group),
        "spark.stages": len(mine),
        "spark.tasks": tasks,
        "spark.tasks_failed": sum(s["failed"] for s in mine),
        "spark.shuffle_write_mb": sum(s["shuffle_w"] for s in mine) / 2**20,
        "spark.spill_mb": sum(s["spill"] for s in mine) / 2**20,
        "spark.busy_frac": sum(s["run_ms"] for s in mine) / (1000 * wall_s * cpus),
        "spark.task_skew": skew,
    }


UNITS = {
    "sources.html_text_s": "s", "sources.write_s": "s", "sources.read_prior_s": "s",
    "scoring.split_ms": PER_1K, "scoring.chunk_ms": PER_1K, "scoring.encode_ms": PER_1K,
    "scoring.score_ms": PER_1K, "scoring.decode_ms": PER_1K,
    "scoring.chunked_docs": "count", "scoring.overflow_docs": "count",
    "extract.s": "s", "extract.udf_floor_s": "s", "extract.fused_s": "s",
    "extract.entities": "count",
    "relations.s": "s", "relations.triples": "count",
    "graph.mentions_s": "s", "graph.surface_map_s": "s", "graph.edges_s": "s",
    "graph.nodes": "count", "graph.edges": "count",
    "linking.surfaces": "count", "linking.blocking_s": "s", "linking.candidates": "count",
    "linking.verify_s": "s", "linking.verified": "count", "linking.verify_yield": "ratio",
    "linking.map_s": "s",
    "components.s": "s", "components.jobs": "count",
    "plan.build_call_s": "s", "plan.redundant_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.busy_frac": "ratio", "spark.task_skew": "ratio",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}

# metric -> span whose self time it reports
SELF_TIMES = {
    "sources.html_text_s": "sources.html_text", "sources.write_s": "sources.write",
    "sources.read_prior_s": "sources.read_prior", "extract.s": "extract",
    "relations.s": "relations", "graph.mentions_s": "graph.mentions",
    "graph.surface_map_s": "graph.surface_map", "graph.edges_s": "graph.edges",
    "linking.blocking_s": "linking.blocking", "linking.verify_s": "linking.verify",
    "linking.map_s": "linking", "components.s": "components",
    "extract.udf_floor_s": "extract.udf_floor", "extract.fused_s": "extract.fused",
    "plan.build_call_s": "plan.build_call",
}


def run(session) -> tuple[dict, dict, dict]:
    """Untraced closed loop first (the reference wall_s and the operation
    the spark.* metrics describe), then the traced decomposition, the
    probes and the scoring probe."""
    untraced = session.timed_ops(session.args.seconds)
    wall = statistics.median(untraced["walls"])
    last_group = f"op{len(untraced['walls']) - 1}"
    job = session.job
    tr = Tracer(session.spark.sparkContext)
    out = os.path.join(session.work, "traced_out")
    dec = decompose(job, tr, out)
    traced_problems = session.checker.problems(out)
    probes(job, tr, dec["docs"])
    scoring = scoring_probe(job)
    session.spark.sparkContext.setJobGroup("", "")

    host.stop_spark(session.spark)
    session.spark = None
    jobs, stages = parse_event_log(session.event_log)

    m = {k: tr.self_time(span) for k, span in SELF_TIMES.items()}
    m.update(scoring)
    m.update(dec["counts"])
    m["linking.verify_yield"] = (
        m["linking.verified"] / m["linking.candidates"] if m["linking.candidates"] else 0.0)
    m["components.jobs"] = sum(1 for g in jobs.values() if g == "components")
    layers = [s["name"] for s in tr.spans if s["op"] == "traced" and s["name"] != "op"]
    m["plan.redundant_s"] = wall - sum(tr.self_time(n) for n in set(layers))
    m.update(spark_metrics(jobs, stages, last_group, untraced["walls"][-1], session.cpus))
    m["trace.wall_s"] = tr.duration("op")
    m["trace.overhead_s"] = m["trace.wall_s"] - wall
    for s in tr.spans:
        s["jobs"] = sum(1 for g in jobs.values() if g == s["name"])
    if traced_problems:
        untraced["failures"].append({"op": "traced", "problems": traced_problems})
    untraced["walls"].append(m["trace.wall_s"])  # the traced op is attempted too
    metrics = {k: m[k] for k in UNITS}
    return metrics, UNITS, {"untraced": untraced, "wall_s": wall, "spans": tr.spans}
