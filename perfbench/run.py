"""Benchmark entry point: one run of one workload against the engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. A run is a closed loop in one fresh driver
process (``driver.py``) at ``local[nproc // 2]``: Spark set-up, the workload's
engine-side prep, then the timed call repeated until ``--seconds`` of timed
work are done (at least once), each output checked against gold. This
process adds no threads; it generates the inputs, samples the driver's
process-tree RSS from ``/proc``, waits until the driver's JVM has exited,
and prints one JSON line with ``correct``, ``attempted``, ``failed`` and
``metrics`` last. ``--trace 1`` runs the same loop with Spark's event log on
and the layer tags installed, and reports the per-layer ledger instead.

Everything it writes goes under ``.bench_build/perfbench`` in the checkout:
inputs cached by (workload, seed, size), the snapshot-0 base cached by a
digest of the engine sources, one work directory per run, and
``runs.jsonl``, the record of every run.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402
import selfcheck  # noqa: E402

# Input sizes. Pages carry 6-10 planted sentences each.
SIZES = {"kg_build": 8000, "snapshot_update": 4000}
SENTS = (6, 10)
GAZ_SIZE = 999
CHANGED_SHARE = 0.05
# Correctness floors on (precision, recall) of triples. Precision is exact
# on this generator; recall reads ~0.992 because longest-match resolution
# swallows "works" in "<org> works at" when "<org> works" is itself a
# gazetteer name, an engine behaviour the benchmark reports, not hides.
FLOORS = (0.999, 0.98)
CHILD_TIMEOUT_S = 170
RSS_PERIOD_S = 0.1  # RSS of the known pids
PIDS_PERIOD_S = 1.0  # rescan /proc for the session's pids

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("pages_per_s", "1/s"),
              ("triple_precision", "share"), ("triple_recall", "share"),
              ("ok_share", "share")]


def cores() -> int:
    """Spark's local[N]: half the CPUs this process may use. The other half
    takes the JVM's JIT and GC threads and the Python driver, so a CPU the
    host takes away for a moment less often stalls a task or the driver; at
    local[nproc] the same calls were no faster and spread several times as
    wide (see DESIGN.md, Load model)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def source_digest(root: str) -> str:
    """Digest of the engine sources and the generator: the snapshot-0 base
    built by one commit is never reused by another."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "quickner_spark", "**", "*.py"),
                             recursive=True))
    for f in files + [os.path.join(HERE, "gen.py")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)


def _cached(path: str, make) -> str:
    """Build ``path`` with ``make(tmp)`` once; a half-written cache entry is
    never visible because the directory is renamed into place."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, path)
    return path


def make_inputs(build: str, workload: str, seed: int | None) -> str:
    """The run's input directory: pages, gold triples, gazetteer and
    ``meta.json``. ``seed=None`` is the seed-independent snapshot-0 base."""
    n = SIZES[workload]
    name = f"base-n{n}" if seed is None else f"{workload}-s{seed}-n{n}"

    def make(d):
        gaz = gen.gazetteer(GAZ_SIZE)
        if seed is None:
            changed = gen.gen_snapshot(d, n, SENTS, gaz, "base")
        elif workload == "kg_build":
            changed = gen.gen_snapshot(d, n, SENTS, gaz, f"seed{seed}")
        else:
            changed = gen.gen_snapshot(d, n, SENTS, gaz, f"seed{seed}",
                                       base_key="base", share=CHANGED_SHARE)
        _write_json(os.path.join(d, "gazetteer.json"), gaz)
        _write_json(os.path.join(d, "meta.json"), {"pages": n, "changed": changed})
    return _cached(os.path.join(build, "inputs", name), make)


# -- the driver process ------------------------------------------------------------

def _stat(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _session(sid: int) -> list[int]:
    """Live processes of session ``sid``: the driver started a new session,
    and its JVM and Python workers inherit it."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(d)
            if f and f[0] != "Z" and int(f[3]) == sid:
                out.append(int(d))
    return out


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of all vCPU time the host took away between two readings. The
    run record keeps it so a slow run can be told apart from slow code."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def run_driver(root: str, build: str, args: list[str], env_extra: dict,
               log: str) -> tuple[int, list[tuple[float, int]]]:
    """Run driver.py to completion, sampling the summed RSS of its process
    tree (driver, JVM, Python workers). Returns (exit code, [(time, rss_kb)]).
    On return every process of the tree has exited."""
    env = dict(os.environ)
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    # temp files, Spark's shuffle/spill dirs and the JVM's stay in the checkout
    tmp = os.path.join(build, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # runs hold the lock: none is live
    os.makedirs(tmp)
    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PERFBENCH_T0"] = repr(time.time())
    env.update(env_extra)
    samples: list[tuple[float, int]] = []
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), *args],
            cwd=build, env=env, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True)
        deadline = time.time() + CHILD_TIMEOUT_S
        pids, refreshed = [proc.pid], 0.0
        try:
            while proc.poll() is None:
                now = time.time()
                if now > deadline:
                    raise TimeoutError("driver timed out")
                if now - refreshed > PIDS_PERIOD_S:
                    pids, refreshed = _session(proc.pid), now
                samples.append((now, sum(_rss_kb(p) for p in pids)))
                time.sleep(RSS_PERIOD_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            # the JVM and Python workers outlive the driver by a moment
            end = time.time() + 30
            while _session(proc.pid) and time.time() < end:
                time.sleep(0.1)
            if _session(proc.pid):
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
    return proc.returncode, samples


def _result(code: int, out: str, log: str) -> dict:
    """The driver's result file, or RuntimeError with the log's tail."""
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"driver exited {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def ensure_base(root: str, build: str, cpus: int) -> tuple[str, float | None]:
    """The snapshot-0 base, built by SnapshotKg.update of the code under
    test; returns (path, build seconds if it was built by this run)."""
    base = os.path.join(build, "base", f"n{SIZES['snapshot_update']}-"
                        f"{source_digest(root)}")
    if os.path.isdir(base):
        return base, None
    # a base built from other sources is never read again
    for stale in glob.glob(os.path.join(os.path.dirname(base), "*")):
        shutil.rmtree(stale, ignore_errors=True)
    inputs = make_inputs(build, "snapshot_update", None)
    work = os.path.join(build, "work-base")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out, log = os.path.join(work, "result.json"), os.path.join(work, "driver.log")
    code, _ = run_driver(
        root, build,
        ["--mode", "base", "--workload", "snapshot_update", "--inputs", inputs,
         "--work", work, "--out", out, "--cores", str(cpus)],
        {"PERFBENCH_BASE": base + ".tmp"}, log)
    res = _result(code, out, log)
    if not res.get("ok"):
        raise RuntimeError(f"snapshot-0 base build failed: {res}")
    os.rename(base + ".tmp", base)
    shutil.rmtree(work, ignore_errors=True)
    return base, res["base_build_s"]


def one_run(root: str, build: str, workload: str, inputs: str, seconds: float,
            trace: bool, base: str | None, cpus: int) -> dict:
    work = os.path.join(build, f"work-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out, log = os.path.join(work, "result.json"), os.path.join(work, "driver.log")
    env = {"PERFBENCH_BASE": base or ""}
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{logdir} pyspark-shell")
    try:
        ticks = _cpu_ticks()
        code, samples = run_driver(
            root, build,
            ["--workload", workload, "--inputs", inputs, "--work", work,
             "--out", out, "--seconds", str(seconds), "--cores", str(cpus),
             "--trace", str(int(trace))],
            env, log)
        res = _result(code, out, log)
        res["steal_share"] = _steal_share(ticks, _cpu_ticks())
        if "iterations" not in res:
            raise RuntimeError(f"driver produced no iterations: {res}")
        res["peaks_kb"] = [max((kb for t, kb in samples if it["t0"] <= t <= it["t1"]),
                               default=0) for it in res["iterations"]]
        if trace:
            (log,) = glob.glob(os.path.join(logdir, "*"))
            windows = [(it["t0"], it["t1"]) for it in res["iterations"]]
            res["layers"] = ledger.reduce(ledger.read_events(log), windows,
                                          workload, res["counts"])
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metrics_rss(res: dict) -> float:
    """Median over timed calls of the peak RSS of the driver's process tree.
    A per-layer number: JVM heap growth follows GC timing, so it spreads
    ±25% run to run, too wide for an end-to-end bound."""
    return statistics.median(res["peaks_kb"]) / 1024.0


def end_to_end(res: dict) -> tuple[dict, int, int, bool]:
    iters = res["iterations"]
    p_floor, r_floor = FLOORS
    good = [it["ok"] and it["precision"] >= p_floor and it["recall"] >= r_floor
            for it in iters]
    # every iteration reads the same input, so P/R must repeat exactly
    same = len({(it["precision"], it["recall"]) for it in iters}) == 1
    med = statistics.median
    metrics = {
        "setup_s": res["setup_s"],
        "wall_s": med(it["wall_s"] for it in iters),
        "pages_per_s": med(it["items"] / it["wall_s"] for it in iters),
        "triple_precision": iters[0]["precision"],
        "triple_recall": iters[0]["recall"],
        "ok_share": sum(good) / len(iters),
    }
    return metrics, len(iters), len(iters) - sum(good), all(good) and same


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "quickner_spark", "__init__.py")):
        print("perfbench: no quickner_spark package under the current "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    build = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build, exist_ok=True)
    cpus = cores()
    with open(os.path.join(build, "lock"), "w") as lock:
        # runs in one checkout never overlap, so no two JVMs share the cores
        fcntl.flock(lock, fcntl.LOCK_EX)
        checks = selfcheck.run()
        inputs = make_inputs(build, a.workload, a.seed)
        ledger_path = os.path.join(build, "runs.jsonl")
        source = source_digest(root)
        try:
            base, base_build_s = None, None
            if a.workload == "snapshot_update":
                base, base_build_s = ensure_base(root, build, cpus)
            res = one_run(root, build, a.workload, inputs, a.seconds,
                          bool(a.trace), base, cpus)
            untraced = _untraced_walls(ledger_path, a.workload, source, cpus)
            # a third driver process after a base build would not fit the
            # 180 s a run may take; the overhead then reads 0
            if a.trace and not untraced and base_build_s is None:
                plain = one_run(root, build, a.workload, inputs, a.seconds,
                                False, base, cpus)
                untraced = [end_to_end(plain)[0]["wall_s"]]
        except (RuntimeError, TimeoutError) as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        metrics, attempted, failed, correct = end_to_end(res)
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "cores": cpus, "source": source,
                  "pages": SIZES[a.workload], "session": res["session"],
                  "iterations": len(res["iterations"]),
                  "walls": [it["wall_s"] for it in res["iterations"]],
                  "metrics": metrics,
                  "peak_rss_mb": metrics_rss(res),
                  "steal_share": res["steal_share"],
                  "selfcheck": checks}
        if base_build_s is not None:
            record["base_build_s"] = base_build_s
        if a.trace:
            layers = res["layers"]
            for k in ("start_s", "first_job_s", "py_worker_warm_s"):
                layers[f"session.{k}"] = res["session"][k]
            layers["spark.peak_rss_mb"] = metrics_rss(res)
            if untraced:
                layers["trace.overhead_s"] = (layers["trace.wall_s"]
                                              - statistics.median(untraced))
            record["layers"] = layers
            record["spans"] = res.get("spans")
            units = dict(ledger.PER_LAYER)
            out_metrics = {k: {"value": layers[k], "unit": units[k]}
                           for k, _ in ledger.PER_LAYER}
        else:
            units = dict(END_TO_END)
            out_metrics = {k: {"value": metrics[k], "unit": units[k]}
                           for k, _ in END_TO_END}
        with open(ledger_path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    ok = correct and all(checks.values())
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


def _untraced_walls(path: str, workload: str, source: str,
                    cpus: int) -> list[float]:
    """wall_s of earlier untraced runs of this workload on these sources,
    input size and core count."""
    walls = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"] == workload and not r["trace"]
                        and r["source"] == source and r["cores"] == cpus
                        and r["pages"] == SIZES[workload]):
                    walls.append(r["metrics"]["wall_s"])
    return walls


if __name__ == "__main__":
    sys.exit(main())
