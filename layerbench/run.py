"""Layered benchmark for base_etl_spark.

    python3 layerbench/run.py --workload llm_corpus --seed 1 --seconds 12 --trace 0

Runs one workload (see workloads.py) in one process on local[<cpus>]:
generate the inputs from the seed, build the session, load the tables,
run one untimed warm-up pass whose outputs are kept for the check, run
timed passes (op order shuffled from the seed) until --seconds have
passed, check the outputs, and print one JSON result as the last line of
stdout. --trace 0 prints the end-to-end metrics. --trace 1 prints the
per-layer metrics: it runs the same untimed-then-timed sequence twice in
one JVM, first untraced, then with Spark's JSON event log on, and
attributes the log's tasks and stages to ops through job groups.

Everything the run writes goes under .layerbench_work/ in the repository
root, which is removed at the end. Details go to stderr as one JSON record.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from workloads import GATED, WORKLOADS, make  # noqa: E402

ITER_OPS = ("quality_survivor", "bpe_train", "graph_components")
SPARK_SUMS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "input_mb": "MB", "output_mb": "MB",
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_s.p50": "s", "op_s.p90": "s", "peak_rss_mb": "MB"}


def per_layer_units(wl) -> dict[str, str]:
    """Every per-layer metric a traced run of `wl` prints, with its unit:
    those of every workload in BENCHMARK.json, plus `wl`'s own ops. A
    metric whose layer or op the workload does not touch reads 0."""
    kinds = list(dict.fromkeys(k for name in (*GATED, wl.name) for k in make(name).kinds))
    return {
        "session.build_s": "s", "io.load_tables_s": "s", "warmup_s": "s",
        "session.execute_s": "s", "registry.build_s": "s", "registry.build_jobs": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count",
        **{f"iterstats.rounds.{k}": "count" for k in ITER_OPS},
        "etl.run_daily_job_s": "s", "etl.jobs_per_date": "count",
        "sinks.parquet_files": "count", "sinks.parquet_bytes": "bytes", "sinks.jdbc_rows": "count",
        "op_s.count": "count", "fail_ratio": "ratio",
        **{f"op.{k}_s": "s" for k in kinds},
        **{f"spark.{k}": u for k, u in SPARK_SUMS.items()}, "spark.driver_gap_s": "s",
        **{f"spark.executor_run_s.{k}": "s" for k in kinds},
        **{f"spark.driver_gap_s.{k}": "s" for k in kinds},
        "trace.overhead_ratio": "ratio",
    }


# ---------------------------------------------------------------- host state


def _proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """(pid -> parent pid, pid -> threads in state R or D)."""
    parent, busy = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{entry}/task")
        except OSError:
            continue  # exited while we looked
        n = 0
        for tid in tids:
            try:
                with open(f"/proc/{entry}/task/{tid}/stat") as f:
                    n += f.read().rsplit(")", 1)[1].split()[0] in ("R", "D")
            except OSError:
                continue
        parent[int(entry)], busy[int(entry)] = int(fields[1]), n
    return parent, busy


def _descends(pid: int, root: int, parent: dict[int, int]) -> bool:
    seen = set()
    while pid > 1 and pid not in seen:
        if pid == root:
            return True
        seen.add(pid)
        pid = parent.get(pid, 0)
    return False


def host_stamp() -> dict:
    """Load averages and busy threads outside this process tree, read
    once (the benchmark never samples while it measures)."""
    parent, busy = _proc_table()
    me = os.getpid()
    external = sum(
        n for pid, n in busy.items() if not _descends(pid, me, parent) and not _descends(pid, 2, parent)
    )
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "external_busy": external, "cpu_ticks": cpu}


def steal_share(before: dict, after: dict) -> float:
    """Share of the machine's CPU time the hypervisor took between stamps."""
    d = [y - x for x, y in zip(before["cpu_ticks"], after["cpu_ticks"])]
    return d[7] / max(1, sum(d))


def own_descendants() -> list[int]:
    parent, _ = _proc_table()
    me = os.getpid()
    return [p for p in parent if p != me and _descends(p, me, parent)]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ------------------------------------------------------------------- harness


class Harness:
    """One engine session: times each engine call from outside and runs
    it under its own Spark job group, named phase/pass/op/part."""

    def __init__(self, spark, data_dir: str, work: str, phase: str) -> None:
        self.spark, self.sc = spark, spark.sparkContext
        self.data_dir, self.work, self.phase = data_dir, work, phase
        self.pass_idx = 0
        self.timed = False
        self.passes_run = 0
        self.samples: list[dict] = []  # one per op call
        self.groups: dict[str, tuple[int, str, str]] = {}  # id -> (pass, op, part)
        from base_etl_spark import queries

        self.queries = queries()

    def set_group(self, op: str, part: str) -> None:
        """Spark jobs started from here on belong to this op's group."""
        gid = f"{self.phase}/{self.pass_idx}/{op}/{part}"
        self.groups[gid] = (self.pass_idx, op, part)
        self.sc.setJobGroup(gid, gid)

    def run_key(self, op: str, key: str, collect: bool):
        """One registry key: build the DataFrame, then execute it through
        the noop sink (or collect it, in the warm-up pass)."""
        from base_etl_spark import execute_fully

        self.set_group(op, "build")
        t0 = time.perf_counter()
        df = self.queries[key](self.spark, self.data_dir)
        t1 = time.perf_counter()
        self.set_group(op, "exec")
        if collect:
            out = (df.columns, [tuple(r) for r in df.collect()])
        else:
            execute_fully(df)
            out = None
        self._last = (t1 - t0, time.perf_counter() - t1)
        return out

    def run_call(self, op: str, fn):
        """Any other engine call, all of it counted as execution."""
        self.set_group(op, "exec")
        t0 = time.perf_counter()
        out = fn()
        self._last = (0.0, time.perf_counter() - t0)
        return out

    def run_pass(self, wl, order: list[str], collect: bool) -> tuple[float, dict, int]:
        """Run each op once; returns (wall s, collected outputs, failures)."""
        from base_etl_spark import iterstats

        outputs, failed = {}, 0
        start = time.time()
        for op in order:
            iterstats.ITER_ROUNDS.clear()  # so it holds only this op's rounds
            t0 = time.time()
            try:
                out = wl.run_op(self, op, collect)
                ok = True
            except Exception as e:  # an op failure is counted, the pass goes on
                print(f"# {wl.name} pass {self.pass_idx} {op}: {type(e).__name__}: {e}", file=sys.stderr)
                ok, out = False, None
                failed += 1
            t1 = time.time()
            if ok and collect:
                outputs[op] = out
            build_s, exec_s = self._last if ok else (0.0, 0.0)
            self.samples.append({
                "pass": self.pass_idx, "op": op, "kind": wl.kind(op), "ok": ok,
                "t0": t0, "t1": t1, "s": t1 - t0, "build_s": build_s, "exec_s": exec_s,
                "rounds": sum(iterstats.ITER_ROUNDS.values()),
            })
        self.passes_run += 1
        return time.time() - start, outputs, failed

    def job_counts(self) -> dict[str, tuple[int, dict[int, tuple[int, int]]]]:
        """Per job group, from the status tracker: the number of jobs and,
        for each stage that ran tasks, (completed, failed) task counts.
        A stage a later job reuses is listed under both jobs' groups."""
        st = self.sc.statusTracker()
        out = {}
        for gid in self.groups:
            jobs = [j for j in map(st.getJobInfo, st.getJobIdsForGroup(gid)) if j is not None]
            stages = {}
            for sid in {sid for j in jobs for sid in j.stageIds}:
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:
                    stages[sid] = (s.numCompletedTasks, s.numFailedTasks)
            out[gid] = (len(jobs), stages)
        return out


# --------------------------------------------------------------------- phase


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
        ),
    }
    if traced:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run_phase(wl, data_dir: str, work: str, phase: str, args, traced: bool) -> dict:
    """Set up, warm up, time passes for args.seconds, check, measure."""
    from base_etl_spark import build_session, load_tables

    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    spark = build_session("layerbench", extra_conf=session_conf(work, traced))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    load_tables(spark, data_dir)
    t2 = time.perf_counter()
    h = Harness(spark, data_dir, work, phase)
    wl.attach(h)
    rng = random.Random(args.seed)
    _, outputs, failed = h.run_pass(wl, rng.sample(wl.ops, len(wl.ops)), collect=True)
    t3 = time.perf_counter()

    h.timed = True
    passes: list[tuple[float, float, float]] = []  # (wall s, epoch start, epoch end)
    attempted = len(wl.ops)
    while not passes or time.perf_counter() - t3 < args.seconds:
        h.pass_idx += 1
        e0 = time.time()
        wall, _, f = h.run_pass(wl, rng.sample(wl.ops, len(wl.ops)), collect=False)
        passes.append((wall, e0, time.time()))
        attempted += len(wl.ops)
        failed += f
    h.timed = False
    rounds: dict[str, int] = {}
    for s in h.samples:  # an op's round count must not change between passes
        if s["ok"] and rounds.setdefault(s["op"], s["rounds"]) != s["rounds"]:
            print(f"# {s['op']}: {rounds[s['op']]} then {s['rounds']} rounds", file=sys.stderr)
            failed += 1

    h.pass_idx = -1
    h.set_group("check", "check")
    layer, counts = {}, {}
    if phase == "main":  # the traced phase only needs its event log
        try:
            problems = wl.check(h, outputs)
        except Exception as e:  # the check itself broke: every op counts as failed
            problems = {op: [f"check raised {type(e).__name__}: {e}"] for op in wl.ops}
        for op, p in problems.items():
            if p:
                print(f"# check {wl.name} {op}: {' | '.join(map(str, p))}", file=sys.stderr)
                failed += 1
        layer = wl.layer_metrics(h)
        counts = h.job_counts()

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    rss = {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid)}
    spark.stop()
    return {
        "harness": h, "passes": passes, "attempted": attempted, "failed": failed,
        "setup_s": t3 - t0, "build_s": t1 - t0, "load_s": t2 - t1, "warmup_s": t3 - t2,
        "rounds": rounds, "layer": layer, "counts": counts, "peak_rss_mb": rss,
    }


# ------------------------------------------------------------------- metrics


def end_to_end(r: dict) -> dict[str, float]:
    h = r["harness"]
    ops = [s["s"] for s in h.samples if s["pass"] > 0 and s["ok"]]
    p90 = statistics.quantiles(ops, n=10, method="inclusive")[8] if len(ops) > 1 else median(ops)
    return {
        "setup_s": r["setup_s"],
        "pass_s": median([p[0] for p in r["passes"]]),
        "op_s.p50": median(ops),
        "op_s.p90": p90,
        "peak_rss_mb": sum(r["peak_rss_mb"].values()),
    }


def per_layer(wl, a: dict, b: dict) -> dict[str, float]:
    """Counters and timings from the untraced phase `a`, event-log
    statistics from the traced phase `b`."""
    from eventlog import covered_s, read_groups

    h = a["harness"]
    timed = [s for s in h.samples if s["pass"] > 0 and s["ok"]]
    by_pass: dict[int, dict] = {}
    for gid, (n_jobs, stages) in a["counts"].items():
        p, op, part = h.groups[gid]
        if p <= 0:
            continue
        acc = by_pass.setdefault(p, {"jobs": 0, "build_jobs": 0, "stages": {}})
        acc["jobs"] += n_jobs
        acc["build_jobs"] += n_jobs if part == "build" else 0
        acc["stages"].update(stages)
    m: dict[str, float] = {name: 0.0 for name in per_layer_units(wl)}
    m.update({
        "session.build_s": a["build_s"], "io.load_tables_s": a["load_s"], "warmup_s": a["warmup_s"],
        "op_s.count": len(timed), "fail_ratio": a["failed"] / a["attempted"],
    })
    for name, part in (("session.execute_s", "exec_s"), ("registry.build_s", "build_s")):
        m[name] = median([sum(s[part] for s in timed if s["pass"] == p) for p in by_pass])
    m["spark.jobs"] = median([c["jobs"] for c in by_pass.values()])
    m["registry.build_jobs"] = median([c["build_jobs"] for c in by_pass.values()])
    m["spark.stages"] = median([len(c["stages"]) for c in by_pass.values()])
    m["spark.tasks"] = median([sum(t for t, _ in c["stages"].values()) for c in by_pass.values()])
    m["spark.failed_tasks"] = median([sum(f for _, f in c["stages"].values()) for c in by_pass.values()])
    for op, v in a["rounds"].items():
        if wl.kind(op) in ITER_OPS:
            m[f"iterstats.rounds.{wl.kind(op)}"] = v
    date_jobs = [
        a["counts"][gid][0] for gid, (p, op, _) in h.groups.items()
        if p > 0 and wl.kind(op) == "run_range"
    ]
    m["etl.jobs_per_date"] = median(date_jobs)
    m.update(a["layer"])
    for kind in {s["kind"] for s in timed}:
        m[f"op.{kind}_s"] = median([s["s"] for s in timed if s["kind"] == kind])

    # traced phase: fold the event log onto (pass, op)
    hb = b["harness"]
    groups = read_groups(os.path.join(hb.work, "events"))
    pass_sum: dict[int, dict[str, float]] = {}
    op_run: dict[tuple[int, str], float] = {}
    op_iv: dict[tuple[int, str], list] = {}
    for gid, g in groups.items():
        if gid not in hb.groups:
            continue
        p, op, _ = hb.groups[gid]
        if p <= 0:
            continue
        acc = pass_sum.setdefault(p, {k: 0.0 for k in SPARK_SUMS})
        for k in SPARK_SUMS:
            acc[k] += getattr(g, k)
        op_run[(p, op)] = op_run.get((p, op), 0.0) + g.executor_run_s
        op_iv.setdefault((p, op), []).extend(g.intervals)
    for k in SPARK_SUMS:
        m[f"spark.{k}"] = median([acc[k] for acc in pass_sum.values()])
    gaps = []
    for idx, (wall, e0, e1) in enumerate(b["passes"], start=1):
        ivs = [iv for (p, _), v in op_iv.items() if p == idx for iv in v]
        gaps.append(wall - covered_s(ivs, e0, e1))
    m["spark.driver_gap_s"] = median(gaps)
    tb = [s for s in hb.samples if s["pass"] > 0 and s["ok"]]
    for kind in {s["kind"] for s in tb}:
        mine = [s for s in tb if s["kind"] == kind]
        m[f"spark.executor_run_s.{kind}"] = median([op_run.get((s["pass"], s["op"]), 0.0) for s in mine])
        m[f"spark.driver_gap_s.{kind}"] = median([
            s["s"] - covered_s(op_iv.get((s["pass"], s["op"]), []), s["t0"], s["t1"]) for s in mine
        ])
    m["trace.overhead_ratio"] = end_to_end(b)["pass_s"] / end_to_end(a)["pass_s"]
    return m


# ----------------------------------------------------------------------- CLI


def setup_env(work: str) -> None:
    """Keep every file the run writes (Spark, Python workers, temp files)
    under `work`, and let Spark's Python workers import the engine."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while own_descendants() and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.seed %= 2**63  # numpy generators take non-negative seeds only
    if not os.path.isfile(os.path.join(ROOT, "base_etl_spark", "__init__.py")):
        print(f"layerbench: no base_etl_spark package in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".layerbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    setup_env(work)
    before = host_stamp()
    wl = make(args.workload)
    try:
        g0 = time.perf_counter()
        data_dir = wl.prepare(work, args.seed)
        gen_s = time.perf_counter() - g0
        a = run_phase(wl, data_dir, os.path.join(work, "main"), "main", args, traced=False)
        b = run_phase(wl, data_dir, os.path.join(work, "traced"), "traced", args, traced=True) if args.trace else None
        metrics = per_layer(wl, a, b) if args.trace else end_to_end(a)
    finally:
        stop_jvm()
        after = host_stamp()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "gen_s": gen_s,
        "host_before": before, "host_after": after,
        "wall_s": time.perf_counter() - g0, "steal_share": steal_share(before, after),
        "contaminated": max(before["external_busy"], after["external_busy"]) >= 2,
        "passes": len(a["passes"]), "rounds": a["rounds"], "peak_rss_mb": a["peak_rss_mb"],
        "ops": {op: round(median([s["s"] for s in a["harness"].samples if s["op"] == op and s["pass"] > 0]), 4)
                for op in wl.ops},
    }
    print(json.dumps(record), file=sys.stderr)
    units = per_layer_units(wl) if args.trace else END_TO_END
    print(json.dumps({
        "correct": a["failed"] == 0,
        "attempted": a["attempted"],
        "failed": a["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
