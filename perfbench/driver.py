"""One benchmark driver process: set up a Spark session, run one workload's
timed call in a closed loop, check every output against gold, stop.

Started by ``run.py`` (never by hand) as a fresh process, so set-up is
measured from process start. ``PERFBENCH_T0`` carries the spawn time
(``time.time()`` in the parent) so set-up includes interpreter start.

Modes:
  run   the workload's timed loop (``--seconds``), verified per iteration
  base  build the snapshot_update snapshot-0 base with ``SnapshotKg.update``

Writes one JSON result file (``--out``); prints nothing on success.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import ledger  # noqa: E402

def _load(path):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _pr(out: set, gold: set) -> tuple[float, float]:
    hit = len(out & gold)
    return (hit / len(out) if out else 0.0), (hit / len(gold) if gold else 0.0)


def score_triples(rows, gold_rows) -> tuple[float, float]:
    """(precision, recall) of (url, subj, pred, obj) sets."""
    return _pr({tuple(r) for r in rows}, {tuple(r) for r in gold_rows})


class Workload:
    """prep() is set-up (counted in setup_s); before(i) readies call i
    untimed; call(i) is the timed call; check(i, result) -> (ok, precision,
    recall, pages); layer_counts(result) feeds the traced ledger."""

    def __init__(self, spark, inputs: str, work: str, tracer):
        self.spark, self.inputs, self.work, self.tracer = spark, inputs, work, tracer

    def before(self, i):
        pass


class KgBuild(Workload):
    def prep(self):
        self.gaz = [tuple(g) for g in _load(os.path.join(self.inputs, "gazetteer.json"))]
        self.pages = os.path.join(self.inputs, "pages.parquet")
        self.gold = _load(os.path.join(self.inputs, "gold_triples.json"))
        self.n_pages = _load(os.path.join(self.inputs, "meta.json"))["pages"]

    def call(self, i):
        from quickner_spark.kg.pipeline import build_kg_pipeline
        from quickner_spark.kg.webextract import extract_text_web
        base = os.path.join(self.work, f"kg{i}")
        pipe = build_kg_pipeline(self.spark, base, self.pages, self.gaz,
                                 gen.PREDICATES, extractor=extract_text_web)
        if self.tracer:
            self.tracer.wrap_pipeline(pipe)
        status = pipe.run(force=True)
        return base, status

    def check(self, i, result):
        import pyarrow.parquet as pq
        base, status = result
        ran = set(status.values()) == {"ran"}
        rows = pq.read_table(os.path.join(base, "triples"),
                             columns=["url", "subj", "pred", "obj"]).to_pylist()
        p, r = score_triples(((d["url"], d["subj"], d["pred"], d["obj"])
                              for d in rows), self.gold)
        return ran, p, r, self.n_pages

    def layer_counts(self, result):
        """Stage walls and row counts from the pipeline's own _metrics."""
        import pyarrow.parquet as pq
        base, _ = result
        m = pq.read_table(os.path.join(base, "_metrics")).to_pylist()
        walls, rows = {}, {}
        for r in m:
            walls[r["stage"]] = r["wall_ms"] / 1000.0
            rows[r["stage"]] = rows.get(r["stage"], 0) + r["rows_out"]
        return {"stage_wall_s": walls, "spans_out": rows.get("mentions", 0),
                "triples_out": rows.get("triples", 0)}

    def cleanup(self, result):
        shutil.rmtree(result[0], ignore_errors=True)


class SnapshotUpdate(Workload):
    def prep(self):
        from quickner_spark.kg.delta import SnapshotKg
        from quickner_spark.kg.webextract import extract_text_web
        self.gaz = [tuple(g) for g in _load(os.path.join(self.inputs, "gazetteer.json"))]
        self.pages = os.path.join(self.inputs, "pages.parquet")
        self.gold = _load(os.path.join(self.inputs, "gold_triples.json"))
        meta = _load(os.path.join(self.inputs, "meta.json"))
        self.n_pages, self.changed = meta["pages"], meta["changed"]
        self.base = os.environ["PERFBENCH_BASE"]
        self._kg = lambda d: SnapshotKg(self.spark, d, self.gaz, gen.PREDICATES,
                                        extractor=extract_text_web)
        if self.tracer:
            import quickner_spark.kg.delta as delta
            self.tracer.patch_module(delta, ledger.DELTA_LAYERS)
        self.kgs = {0: self._kg(self._fresh_copy(0))}

    def _fresh_copy(self, i):
        d = os.path.join(self.work, f"snap{i}")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base, d)
        return d

    def before(self, i):
        if i not in self.kgs:
            self.kgs[i] = self._kg(self._fresh_copy(i))

    def call(self, i):
        kg = self.kgs[i]
        if self.tracer:
            self.tracer.enter("kg.delta")
        res = kg.update(self.spark.read.parquet(self.pages))
        return kg, res

    def check(self, i, result):
        kg, res = result
        ok = (res.get("committed") is True and res.get("snap") == 1
              and res.get("pages_in") == self.n_pages
              and res.get("changed") == self.changed)
        rows = kg.current_triples().select("url", "subj", "pred", "obj").collect()
        p, r = score_triples((tuple(x) for x in rows), self.gold)
        return ok, p, r, self.n_pages

    def layer_counts(self, result):
        kg, res = result
        rd = self.spark.read.parquet
        with os.scandir(self.pages) as files:
            size = sum(f.stat().st_size for f in files)
        return {"spans_out": rd(f"{kg.base}/mentions/snap=1").count(),
                "triples_out": rd(f"{kg.base}/triples/snap=1").count(),
                "changed": res["changed"], "pages_in": res["pages_in"],
                "input_bytes": size}

    def cleanup(self, result):
        shutil.rmtree(result[0].base, ignore_errors=True)


WORKLOADS = {"kg_build": KgBuild, "snapshot_update": SnapshotUpdate}


def build_base(spark, inputs: str, base: str) -> dict:
    """Snapshot 0 through the code under test: SnapshotKg.update on the
    snapshot-0 pages into a fresh directory."""
    from quickner_spark.kg.delta import SnapshotKg
    from quickner_spark.kg.webextract import extract_text_web
    gaz = [tuple(g) for g in _load(os.path.join(inputs, "gazetteer.json"))]
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.time()
    kg = SnapshotKg(spark, base, gaz, gen.PREDICATES, extractor=extract_text_web)
    res = kg.update(spark.read.parquet(os.path.join(inputs, "pages.parquet")))
    wall = time.time() - t0
    n = _load(os.path.join(inputs, "meta.json"))["pages"]
    ok = res.get("committed") is True and res.get("changed") == n
    return {"base_build_s": wall, "ok": ok, "result": res}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("run", "base"), default="run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    t_spawn = float(os.environ["PERFBENCH_T0"])
    os.makedirs(a.work, exist_ok=True)

    from quickner_spark.session import get_spark
    spark = get_spark(f"perfbench-{a.workload}", cores=a.cores)
    t_session = time.time()
    spark.range(0, 1000, 1, a.cores).count()
    t_job = time.time()
    spark.range(0, a.cores, 1, a.cores).mapInPandas(
        lambda it: it, "id long").count()
    t_py = time.time()
    res: dict = {"session": {"start_s": t_session - t_spawn,
                             "first_job_s": t_job - t_session,
                             "py_worker_warm_s": t_py - t_job}}
    try:
        if a.mode == "base":
            res.update(build_base(spark, a.inputs, os.environ["PERFBENCH_BASE"]))
            return 0
        tracer = ledger.Tagger(spark) if a.trace else None
        wl = WORKLOADS[a.workload](spark, a.inputs, a.work, tracer)
        wl.prep()
        t_prep = time.time()
        res["session"]["prep_s"] = t_prep - t_py
        res["setup_s"] = t_prep - t_spawn
        iters, counts = [], None
        for i in itertools.count():
            wl.before(i)
            if tracer:
                tracer.enter("bench")
            t0 = time.time()
            out = wl.call(i)
            t1 = time.time()
            if tracer:
                tracer.enter("bench")
            ok, p, r, items = wl.check(i, out)
            iters.append({"t0": t0, "t1": t1, "wall_s": t1 - t0, "ok": ok,
                          "precision": p, "recall": r, "items": items})
            if tracer and counts is None:
                counts = wl.layer_counts(out)
            wl.cleanup(out)
            if sum(it["wall_s"] for it in iters) >= a.seconds:
                break
        res["iterations"] = iters
        res["counts"] = counts
        if tracer:
            res["spans"] = tracer.spans
    finally:
        spark.stop()
        with open(a.out, "w", encoding="utf-8") as fh:
            json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
