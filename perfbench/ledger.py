"""Layer ledger: tag Spark jobs by engine layer, then reduce Spark's own
event log into per-layer numbers. No engine code changes.

Tagging. ``Tagger`` wraps a layer's public function so that entering it
sets the Spark local property ``perfbench.layer`` to ``<layer>|call``, and
leaving it sets ``<layer>|write``: jobs a layer runs while its function
executes (planning ``collect``s) read ``call``; the lazy plan it returned
runs later, under ``write``, when the caller commits it. Wrappers pass
arguments and results through unchanged.

Reducing. ``read_events`` parses one uncompressed JSON-lines event log;
``reduce`` keeps the jobs submitted inside the timed windows and turns them
into the per-layer metrics named in ``PER_LAYER``.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import time

PROP = "perfbench.layer"

# build_kg_pipeline stage -> the engine module whose code the stage runs
STAGE_LAYERS = {"extract": "kg.extract", "mentions": "kg.pipeline",
                "linked": "kg.link", "triples": "kg.triples",
                "aliases": "kg.canonicalize", "nodes": "kg.pipeline",
                "edges": "kg.pipeline"}
PIPELINE_STAGES = ("extract", "mentions", "linked", "triples", "aliases",
                   "nodes", "edges")
# names kg.delta imports from the layer modules
DELTA_LAYERS = {"extract_annotate_stage": "kg.extract",
                "alias_table_from_gazetteer": "kg.link",
                "link_mentions": "kg.link", "window_triples": "kg.triples",
                "canonicalize_aliases": "kg.canonicalize"}

# every per-layer metric, in BENCHMARK.json order: (name, unit)
PER_LAYER = [
    ("session.start_s", "s"), ("session.first_job_s", "s"),
    ("session.py_worker_warm_s", "s"),
    ("sources.scan_s", "s"), ("sources.input_mb", "MB"),
    ("kg.extract.wall_s", "s"), ("kg.extract.py_run_task_s", "s"),
    ("kg.extract.py_start_task_s", "s"), ("kg.extract.arrow_mb_in", "MB"),
    ("kg.extract.arrow_mb_out", "MB"), ("kg.extract.spans_out", "count"),
    ("kg.link.wall_s", "s"), ("kg.link.plan_collect_s", "s"),
    ("kg.link.cpu_share", "share"), ("kg.link.shuffle_mb", "MB"),
    ("kg.triples.wall_s", "s"), ("kg.triples.rows_out", "count"),
    ("kg.canonicalize.wall_s", "s"),
    *[(f"kg.pipeline.{s}.wall_s", "s") for s in PIPELINE_STAGES],
    ("kg.pipeline.materialize_s", "s"), ("kg.pipeline.driver_gap_s", "s"),
    ("kg.delta.digest_s", "s"), ("kg.delta.doc_local_s", "s"),
    ("kg.delta.merge_s", "s"), ("kg.delta.jobs", "count"),
    ("kg.delta.driver_gap_s", "s"), ("kg.delta.changed_share", "share"),
    ("spark.jobs", "count"), ("spark.gc_s", "s"), ("spark.spill_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.task_skew", "ratio"),
    ("spark.peak_rss_mb", "MB"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
    ("trace.accounted_share", "share"),
]

MB = 1e6
_WRITE_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\n"
    r"Arguments: ([^,\s]+),")


class Tagger:
    """Sets the layer tag on the driver thread's Spark local properties and
    records a (layer, start, end) span per wrapped call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []

    def enter(self, layer: str, phase: str = "call") -> None:
        self.sc.setLocalProperty(PROP, f"{layer}|{phase}")

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def tagged(*args, **kwargs):
            self.enter(layer, "call")
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((layer, t0, time.time()))
                self.enter(layer, "write")
        return tagged

    def wrap_pipeline(self, pipe) -> None:
        """Tag every Stage.fn of a build_kg_pipeline Pipeline."""
        for st in pipe.stages:
            st.fn = self.wrap(STAGE_LAYERS.get(st.name, "kg.pipeline"), st.fn)

    def patch_module(self, module, layers: dict[str, str]) -> None:
        """Wrap names a module imported from the layer modules."""
        for name, layer in layers.items():
            setattr(module, name, self.wrap(layer, getattr(module, name)))


# -- event log -----------------------------------------------------------------

def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def read_events(path: str) -> list[dict]:
    """Jobs in submission order, each with its tag, interval, SQL write
    target and per-task metrics."""
    jobs, stage_job, sql_write = {}, {}, {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {"t0": e["Submission Time"] / 1e3,
                             "t1": None, "tag": props.get(PROP, ""),
                             "sql": props.get("spark.sql.execution.id"),
                             "tasks": []}
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None:
                    continue
                m = e.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in e["Task Info"].get("Accumulables", [])}
                jobs[jid]["tasks"].append({
                    "stage": e["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "shuffle_w_b": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "py_run_s": _num(acc.get("time to run Python workers")) / 1e3,
                    "py_start_s": (_num(acc.get("time to start Python workers"))
                                   + _num(acc.get("time to initialize Python workers"))) / 1e3,
                    "py_in_b": _num(acc.get("data sent to Python workers")),
                    "py_out_b": _num(acc.get("data returned from Python workers")),
                })
            elif kind.endswith("SQLExecutionStart"):
                w = _WRITE_PATH.search(e.get("physicalPlanDescription", ""))
                if w:
                    sql_write[str(e["executionId"])] = w.group(1)
    for j in jobs.values():
        j["write"] = sql_write.get(j["sql"] or "", "")
        j["layer"], _, j["phase"] = j["tag"].partition("|")
    return sorted(jobs.values(), key=lambda j: j["t0"])


def _union(intervals) -> float:
    """Total length covered by a set of (t0, t1) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _wall(jobs) -> float:
    return _union((j["t0"], j["t1"]) for j in jobs if j["t1"] is not None)


def _tasks(jobs):
    return [t for j in jobs for t in j["tasks"]]


def _sum(jobs, key) -> float:
    return sum(t[key] for t in _tasks(jobs))


def _skew(jobs) -> float:
    """max / median task time in the stage with the most task time."""
    by_stage: dict[int, list[float]] = {}
    for t in _tasks(jobs):
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 0.0
    times = max(by_stage.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def reduce(events: list[dict], windows, workload: str, counts: dict) -> dict:
    """Per-layer metrics (means per timed call) from the jobs submitted
    inside ``windows`` [(t0, t1), ...] (epoch seconds)."""
    n = len(windows)
    per_call: list[dict] = []
    for t0, t1 in windows:
        jobs = [j for j in events if t0 <= j["t0"] <= t1]
        per_call.append(_reduce_call(jobs, t1 - t0, workload))
    out = {name: 0.0 for name, _ in PER_LAYER}
    for m in per_call:
        for k, v in m.items():
            out[k] += v / n
    if workload in ("kg_build", "snapshot_update"):
        out["kg.extract.spans_out"] = float(counts.get("spans_out", 0))
        out["kg.triples.rows_out"] = float(counts.get("triples_out", 0))
    if workload == "kg_build":
        for s, w in counts.get("stage_wall_s", {}).items():
            if f"kg.pipeline.{s}.wall_s" in out:
                out[f"kg.pipeline.{s}.wall_s"] = w
    if workload == "snapshot_update":
        out["kg.delta.changed_share"] = counts["changed"] / counts["pages_in"]
        # Spark's task input bytes under-count the vectorized parquet
        # reader, so the scanned input is the size of the pages files
        out["sources.input_mb"] = counts["input_bytes"] / MB
    return out


def _delta_phases(jobs):
    """Split one SnapshotKg.update into (digest, doc_local, merge) jobs.
    digest: the digest scan and change classification, before the first
    layer function is entered; doc_local: from there through the triples
    write; merge: aggregate merge, canonicalization, nodes/edges, manifest."""
    first = next((i for i, j in enumerate(jobs)
                  if j["layer"] not in ("", "kg.delta", "bench")), len(jobs))
    last = max((i for i, j in enumerate(jobs)
                if "/triples/snap=" in j["write"]), default=first - 1)
    return jobs[:first], jobs[first:last + 1], jobs[last + 1:]


def _reduce_call(jobs, wall: float, workload: str) -> dict:
    m: dict[str, float] = {}
    gap = max(0.0, wall - _wall(jobs))
    m["spark.jobs"] = len(jobs)
    m["spark.gc_s"] = _sum(jobs, "gc_s")
    m["spark.spill_mb"] = _sum(jobs, "spill_b") / MB
    m["spark.shuffle_write_mb"] = _sum(jobs, "shuffle_w_b") / MB
    m["spark.task_skew"] = _skew(jobs)
    m["trace.wall_s"] = wall

    if workload == "snapshot_update":
        # a layer tag stays set until the next layer is entered, so the
        # doc-local layers are read inside their own phase only
        digest, scope, merge = _delta_phases(jobs)
    else:
        scope = jobs
    layer = lambda name, js=scope: [j for j in js if j["layer"] == name]  # noqa: E731
    ext, link = layer("kg.extract"), layer("kg.link")
    m["kg.extract.wall_s"] = _wall(ext)
    m["kg.extract.py_run_task_s"] = _sum(ext, "py_run_s")
    m["kg.extract.py_start_task_s"] = _sum(ext, "py_start_s")
    m["kg.extract.arrow_mb_in"] = _sum(ext, "py_in_b") / MB
    m["kg.extract.arrow_mb_out"] = _sum(ext, "py_out_b") / MB
    m["kg.link.wall_s"] = _wall(link)
    m["kg.link.plan_collect_s"] = _wall([j for j in link if j["phase"] == "call"])
    run = _sum(link, "run_s")
    m["kg.link.cpu_share"] = _sum(link, "cpu_s") / run if run else 0.0
    m["kg.link.shuffle_mb"] = _sum(link, "shuffle_w_b") / MB
    m["kg.triples.wall_s"] = _wall(layer("kg.triples"))
    m["kg.canonicalize.wall_s"] = _wall(layer("kg.canonicalize", jobs))

    if workload == "kg_build":
        m["kg.pipeline.materialize_s"] = _wall(layer("kg.pipeline"))
        m["kg.pipeline.driver_gap_s"] = gap
        accounted = sum(m[k] for k in (
            "kg.extract.wall_s", "kg.link.wall_s", "kg.triples.wall_s",
            "kg.canonicalize.wall_s", "kg.pipeline.materialize_s"))
    else:
        m["kg.delta.digest_s"] = _wall(digest)
        m["kg.delta.doc_local_s"] = _wall(scope)
        m["kg.delta.merge_s"] = _wall(merge)
        m["kg.delta.jobs"] = len(jobs)
        m["kg.delta.driver_gap_s"] = gap
        scan = [j for j in digest if "/digests/" in j["write"]]
        m["sources.scan_s"] = _sum(scan, "run_s")
        accounted = (m["kg.delta.digest_s"] + m["kg.delta.doc_local_s"]
                     + m["kg.delta.merge_s"])
    m["trace.accounted_share"] = (accounted + gap) / wall if wall else 0.0
    return m
