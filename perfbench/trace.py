"""In-memory span tracer for the benchmark's traced run.

A span records its name, start, end, parent span and iteration id, plus
the Spark jobs and tasks launched while it was the innermost open span
(read from `statusTracker()` under a job group named for the span).
Spans and counts stay in memory; `layer_metrics` turns them into the
per-layer metrics once the run is over.

Spans are opened only from the benchmark's own files. Layer calls that
the program makes internally (the writes, scans and event-log sink
inside `assemble_sip`, the JSON-LD parse inside `collect_rdf`) are
wrapped by `traced_layers`, which swaps the name the calling module
looks up for a wrapper for the duration of one traced iteration.
Lazy frames are materialised at the span boundary (persist and
count), so a span covers its layer's work.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

# Span names, in pipeline order. The time metric of a span is
# "<name>_s"; the layer is the part before the dot.
SPANS = [
    "csv_source.read", "csv2rdf.triples", "sip.assemble", "jsonld.write",
    "manifest.scan", "events.write", "manifest.diff", "object_store.list",
    "object_store.upload", "object_store.verify", "collect_rdf.union",
    "jsonld.scan", "rdf_io.turtle_write", "rdf_io.turtle_read", "text.prep",
    "dedup.shingle", "dedup.signature", "dedup.candidates", "dedup.verify",
    "text.write",
]
# Spans that have child spans; their self time is reported too.
PARENT_SPANS = ["iteration", "sip.assemble", "collect_rdf.union"]
LAYERS = sorted({s.split(".")[0] for s in SPANS})


@dataclass
class Span:
    name: str
    start: float
    iteration: int | None
    parent: int | None
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans and counts. Disabled, every method is a no-op and
    `settle` hands the frame back untouched, so the untraced run
    executes exactly the pipeline a user would."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self.iteration: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(name, time.perf_counter(), self.iteration, parent)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        wall_ms = time.time() * 1000.0
        sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs, sp.tasks = _job_stats(sc, group, wall_ms)
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[(self.iteration, name)] += value

    def count_manifest(self, df) -> None:
        """Count the files and bytes a manifest frame hashed; on a
        persisted frame this also materialises it."""
        if self.enabled:
            from pyspark.sql import functions as F

            row = df.agg(F.count("*"), F.sum("file_size")).first()
            self.count("manifest.files_hashed", row[0])
            self.count("manifest.bytes_hashed", row[1] or 0)

    def settle(self, df):
        """Materialise a lazy frame inside the current span: persist it
        and count it. Returns (frame to keep using, row count); the
        count is None when tracing is off."""
        if not self.enabled:
            return df, None
        df = df.persist()
        return df, df.count()


def _job_stats(sc, group: str, since_ms: float) -> tuple[int, int]:
    """(jobs, tasks) launched under `group`. Stages a job skipped
    because an earlier job already produced their shuffle output were
    submitted before the span began and are not counted again."""
    st = sc.statusTracker()
    jt = sc._jsc.statusTracker()  # the Java stage info carries submissionTime
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = jt.getStageInfo(s)
        if info is not None and info.submissionTime() >= since_ms - 1:
            tasks += info.numCompletedTasks() + info.numFailedTasks()
    return len(jobs), tasks


def self_time(spans: list[Span], sp: Span) -> float:
    """Duration minus the part covered by child spans (children of one
    span run one after another, never overlapping)."""
    return sp.duration - sum(spans[c].duration for c in sp.children)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, iterations: list[int]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the traced iterations: each time or count
    is summed within an iteration and the median over iterations is
    reported; ratios divide totals over all traced iterations."""
    per_iter: dict[int, dict[str, float]] = {i: defaultdict(float) for i in iterations}
    for sp in tracer.spans:
        if sp.iteration not in per_iter:
            continue
        m = per_iter[sp.iteration]
        m[f"{sp.name}_s"] += sp.duration
        if sp.name in PARENT_SPANS:
            m[f"{sp.name}_self_s"] += self_time(tracer.spans, sp)
        layer = sp.name.split(".")[0]
        m[f"{layer}.jobs"] += sp.jobs
        m[f"{layer}.tasks"] += sp.tasks
    for (it, name), v in tracer.counts.items():
        if it in per_iter:
            per_iter[it][name] += v

    def med(key: str) -> float:
        return _median(per_iter[i][key] for i in iterations)

    def total(key: str) -> float:
        return sum(per_iter[i][key] for i in iterations)

    def ratio(num: str, den: str) -> float:
        d = total(den)
        return total(num) / d if d else 0.0

    out: dict[str, tuple[float, str]] = {}
    for s in SPANS:
        out[f"{s}_s"] = (med(f"{s}_s"), "s")
    for s in PARENT_SPANS:
        out[f"{s}_self_s"] = (med(f"{s}_self_s"), "s")
    for layer in LAYERS:
        out[f"{layer}.jobs"] = (med(f"{layer}.jobs"), "count")
        out[f"{layer}.tasks"] = (med(f"{layer}.tasks"), "count")
    out["csv2rdf.triples_per_record"] = (ratio("csv2rdf.triples", "csv2rdf.records"), "ratio")
    for key, unit in [
        ("jsonld.docs_written", "count"), ("jsonld.bytes_written", "B"),
        ("jsonld.files_parsed", "count"), ("jsonld.triples_parsed", "count"),
        ("manifest.files_hashed", "count"), ("manifest.bytes_hashed", "B"),
        ("events.n_events", "count"), ("object_store.files_uploaded", "count"),
        ("rdf_io.turtle_bytes", "B"), ("dedup.candidate_pairs", "count"),
        ("dedup.verified_pairs", "count"),
    ]:
        out[key] = (med(key), unit)
    out["manifest.changed_ratio"] = (ratio("manifest.files_to_sync", "manifest.files_scanned"), "ratio")
    cand = total("object_store.candidates")
    out["object_store.skip_ratio"] = (
        (cand - total("object_store.files_uploaded")) / cand if cand else 0.0, "ratio")
    out["text.kept_ratio"] = (ratio("text.docs_kept", "text.docs_in"), "ratio")
    out["dedup.candidate_precision"] = (ratio("dedup.verified_pairs", "dedup.candidate_pairs"), "ratio")
    out["dedup.planted_recall"] = (ratio("dedup.planted_found", "dedup.planted_pairs"), "ratio")
    return out


@contextmanager
def traced_layers(tracer: Tracer):
    """Wrap the layer calls the program makes internally in spans, for
    one traced iteration. Restores the original names on exit."""
    import razulibs_spark.plans.sip as sip_mod
    import razulibs_spark.sources.jsonld as jsonld_mod

    def write_docs(orig):
        def wrapper(triples, directory, *args, **kwargs):
            with tracer.span("jsonld.write"):
                n = orig(triples, directory, *args, **kwargs)
            tracer.count("jsonld.docs_written", n)
            tracer.count("jsonld.bytes_written", tree_bytes(directory, ".meta.json"))
            return n
        return wrapper

    def scan_manifest(orig):
        def wrapper(spark, directory, *args, **kwargs):
            with tracer.span("manifest.scan"):
                df = orig(spark, directory, *args, **kwargs).persist()
                tracer.count_manifest(df)
            return df
        return wrapper

    def write_eventlog(orig):
        def wrapper(triples, path, *args, **kwargs):
            with tracer.span("events.write"):
                return orig(triples, path, *args, **kwargs)
        return wrapper

    def read_docs(orig):
        def wrapper(spark, path, *args, **kwargs):
            with tracer.span("jsonld.scan"):
                df, n = tracer.settle(orig(spark, path, *args, **kwargs))
            tracer.count("jsonld.files_parsed", len(glob.glob(path)))
            tracer.count("jsonld.triples_parsed", n)
            return df
        return wrapper

    patches = [
        (sip_mod, "write_jsonld_per_entity", write_docs),
        (sip_mod, "manifest_from_directory", scan_manifest),
        (sip_mod, "write_ntriples", write_eventlog),
        (jsonld_mod, "read_jsonld", read_docs),
    ]
    with ExitStack() as stack:
        for mod, name, wrap in patches:
            orig = getattr(mod, name)
            setattr(mod, name, wrap(orig))
            stack.callback(setattr, mod, name, orig)
        yield


def tree_bytes(directory: str, suffix: str = "") -> int:
    """Total size of the files under `directory` whose name ends in `suffix`."""
    total = 0
    for dirpath, _, files in os.walk(directory):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
