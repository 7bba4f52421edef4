"""Headline benchmark: runs the representative queries from BASELINE.md
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query runs three times; the reported number is the best (warm) run,
matching BASELINE.md's 'PySpark warm' column, which is the bench gate.
Best-of-3 (was best-of-2 through round 4) damps the VM boot variance
that inflated BENCH_r04's shared-10 total ~1.4x over r3 with identical
plans (SURVEY §2.14 records 4.3→5.1 s swings for identical code).

METHODOLOGY TRANSITION (r5→): BENCH_r01..r04 and BASELINE.md's gate
were recorded best-of-2, so best-of-3 numbers are biased slightly low
relative to those records. To keep cross-round comparisons honest the
JSON now carries BOTH: `queries` / `value` are best-of-3 (current
methodology), `queries_warm2` / `value_warm2` are best-of-the-first-2
attempts (the r1-r4 methodology) — regressions masked by the extra
attempt stay visible in the warm2 track.

METHODOLOGY TRANSITION 2 (r6→): timed runs now execute through the
no-op SINK (base_etl_spark.session.execute_fully) instead of
`.count()`. count() lets Catalyst optimize for the count — aggregate
expressions pruned, unique-key left joins eliminated — which
under-timed json_extract ~2x (its JSON projections were never
evaluated) while every other headline key measured within noise of the
sink number (r6 A/B table in SURVEY §2.17). The five r6-recorded
BASELINE.md anchors use the same sink methodology; the original r1
anchor table was wall-clock around `.collect()`, which also
materializes every column, so the ≤2x gate comparison stays
like-for-like.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# LOAD GUARD (r8, VERDICT r7 task 2): BENCH_r07 was recorded while the
# exit-gate's full sweeps ran on the same box — hybrid_rrf read 2.12x its
# anchor purely from contention (judge re-run on the quiet box: 1.11x).
# A contaminated artifact must never ship silently as the round's number:
# wait (bounded) for 1-min loadavg to drop below the threshold, and stamp
# the observed loadavg into the JSON either way so a dirty recording is
# self-describing.
# Threshold 4.0 -> 1.5 (r9 VERDICT task 3): BENCH_r09 started at loadavg
# 3.12 under the old threshold and four headliners regressed up to 1.96x
# vs r8 with no code change — a 37-second 23-query total cannot absorb
# 3 points of background load silently.
LOAD_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "1.5"))
# 300 -> 900 (r12, VERDICT r11 task 1): a post-pytest 5-min average of
# ~4.5 measurably does NOT drain in 300 s (BENCH_r11 shipped
# load_wait_timed_out=true for exactly this reason — the third
# contaminated artifact in a row). loadavg decays exponentially with a
# 5-minute time constant, so draining from ~20 to the 3.0 gate needs
# 300*ln(20/3) ~ 570 s on an otherwise-idle box; 900 s covers every
# start level the driver's preceding sweeps have produced. The wait is
# free when the box is already quiet (single check, no sleep).
LOAD_WAIT_SECS = int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "900"))


def _loadavg_1min() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None  # non-Linux: no guard, JSON carries null


def _loadavg_5min() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[1])
    except (OSError, ValueError, IndexError):
        return None


# The 1-min average alone is NOT a sufficient quiet signal (measured
# r10): two back-to-back runs launched at 1-min 0.57/0.60 — passing the
# guard — but with the 5-min average still draining from a prior heavy
# job (~4-6) recorded 45.7 s / 47.6 s totals vs 31 s on a genuinely
# settled box (kworker writeback + residual page-cache churn). Require
# the 5-min average below 2x the threshold as well.
def _is_dirty(load: float | None, load5: float | None) -> bool:
    if load is None:
        return False  # non-Linux: no guard signal at all
    return load > LOAD_THRESHOLD or (load5 or 0.0) > 2 * LOAD_THRESHOLD


# Mid-run contamination detector (r11 measurement fix). The r10-r11
# loadavg-allowance version was measured WRONG on an idle box: a run
# launched at loadavg 0.00/0.02 with zero external processes still
# flagged its last 8 keys, because the bench's OWN tail (Python codec
# workers for png_decode/fps_downsample, the ngram explode, the ledger
# sink's micro-batches) legitimately drives the 1-min average to 8-11
# on local[32]. Total loadavg cannot separate self-load from external
# contention on a box the bench is entitled to saturate, so ANY fixed
# allowance either flags every healthy run or misses real contention.
# Replacement: walk /proc once per sample and count tasks in state
# R/D whose ancestry does NOT include this process — Spark's JVM, the
# pyspark daemons and every UDF worker are descendants of the bench
# process, so they are excluded by construction, while a concurrent
# pytest/Spark/compile job shows up at its true width. Kernel threads
# (kthreadd subtree) are counted separately and do not dirty the key:
# mid-run kworker activity is mostly writeback of our own I/O.
# A key is dirty when EVERY one of 3 samples (0.3 s apart) sees >= 2
# external busy tasks — robust to one-sample blips, and a real
# contending job (the r9/r10 events were full Spark suites) is dozens
# wide for minutes, far above the bar. Raw loadavg stamps stay in the
# JSON for observability; they no longer drive the flag.
_EXT_BUSY_BAR = 2
_EXT_SAMPLES = 3


def _external_busy_once(own_root: int) -> tuple[int, int]:
    """One /proc walk: (external busy tasks, kernel busy tasks).

    Busy = task state R (runnable) or D (uninterruptible I/O wait).
    External = ancestry does not reach own_root; kernel = reaches pid 2.

    r12 (ADVICE r11): busy-ness is read PER THREAD from
    /proc/<pid>/task/<tid>/stat, not from the thread-group leader's
    /proc/<pid>/stat alone — a multithreaded contender (a JVM whose main
    thread sleeps while worker threads burn 8 cores) previously counted
    as 0 busy tasks and shipped a contaminated key flagged clean. Each
    busy thread is attributed to its process, and the process ancestry
    decides own/external/kernel. An ancestry walk that dead-ends on a
    pid missing from the snapshot (parent exited mid-walk) classifies
    the task as UNKNOWN and counts it nowhere: the old code counted it
    external, so process-exit races could inflate the count.
    """
    ppid: dict[int, int] = {}
    busy_threads: list[tuple[int, int]] = []  # (tid, owning pid)
    own_pid = os.getpid()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # raced a process exit
        # comm may contain spaces/parens: parse around the LAST ')'
        rparen = stat.rfind(")")
        fields = stat[rparen + 2 :].split()
        parent = int(fields[1])
        ppid[pid] = parent
        try:
            tids = os.listdir(f"/proc/{entry}/task")
        except OSError:
            tids = [entry]  # raced: fall back to the leader's state
        for tid in tids:
            if tid == entry:
                tstate = fields[0]  # leader state already parsed
            else:
                try:
                    with open(f"/proc/{entry}/task/{tid}/stat") as f:
                        tstat = f.read()
                except OSError:
                    continue  # thread exited mid-walk
                tstate = tstat[tstat.rfind(")") + 2 :].split()[0]
            if tstate in ("R", "D"):
                busy_threads.append((int(tid), pid))
    ext = kern = 0
    for _tid, pid in busy_threads:
        if pid == own_pid:
            continue  # the sampling thread itself is always R
        seen: set[int] = set()
        cur = pid
        verdict = "external"  # walked to init/0: a detached process
        while cur > 1 and cur not in seen:
            if cur == own_root:
                verdict = "own"  # bench python -> JVM -> pyspark workers
                break
            if cur == 2:
                verdict = "kernel"  # kthreadd subtree
                break
            seen.add(cur)
            parent = ppid.get(cur)
            if parent is None:
                verdict = "unknown"  # snapshot race: count nowhere
                break
            cur = parent
        if verdict == "external":
            ext += 1
        elif verdict == "kernel":
            kern += 1
    return ext, kern


def _external_busy() -> tuple[int, int]:
    """min over _EXT_SAMPLES one-shot counts -> (external, kernel)."""
    own = os.getpid()
    ext_min = kern_min = 10**9
    for i in range(_EXT_SAMPLES):
        if i:
            time.sleep(0.3)
        ext, kern = _external_busy_once(own)
        ext_min, kern_min = min(ext_min, ext), min(kern_min, kern)
    return ext_min, kern_min


def _is_dirty_midrun(ext_busy: int) -> bool:
    return ext_busy >= _EXT_BUSY_BAR


class _MidrunMonitor:
    """Samples the external-busy count in a background thread WHILE the
    timed attempts run (r12, ADVICE r11: the start-of-key stamp missed
    contention that began after the stamp and ended before the next
    key). Same robustness rule as the start-of-key stamp: a window of
    _EXT_SAMPLES consecutive samples must ALL see >= _EXT_BUSY_BAR
    external busy tasks before the key is dirtied — one-sample blips
    (a short-lived shell, a cron tick) stay clean, while a real
    contending job (minutes wide) cannot hide between stamps. The
    monitor thread lives in the bench process, so its own R-state
    thread is classified 'own' by the detector and never self-flags."""

    def __init__(self) -> None:
        import threading

        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None
        self.breached = False
        self.max_window_ext = 0

    def __enter__(self) -> "_MidrunMonitor":
        import threading

        own = os.getpid()

        def _run() -> None:
            window: list[int] = []
            while not self._stop.is_set():
                ext, _kern = _external_busy_once(own)
                window.append(ext)
                if len(window) > _EXT_SAMPLES:
                    window.pop(0)
                if len(window) == _EXT_SAMPLES:
                    w_min = min(window)
                    self.max_window_ext = max(self.max_window_ext, w_min)
                    if w_min >= _EXT_BUSY_BAR:
                        self.breached = True
                self._stop.wait(0.3)

        self._thread = threading.Thread(target=_run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def _wait_for_quiet(wait_secs: int) -> tuple[float | None, float | None, bool]:
    """Returns (loadavg_1min, loadavg_5min, timed_out). timed_out=True
    means the box never went quiet inside the deadline and the run
    proceeded anyway — the artifact must self-describe as contaminated
    (r10 VERDICT: a timed-out wait shipped as load_contaminated=false
    twice in a row because only the 1-min start value was checked)."""
    load, load5 = _loadavg_1min(), _loadavg_5min()
    if load is None:
        return None, None, False
    deadline = time.time() + wait_secs
    while _is_dirty(load, load5) and time.time() < deadline:
        print(
            f"# load guard: loadavg 1-min {load:.2f} / 5-min {load5}"
            f" over ({LOAD_THRESHOLD}, {2 * LOAD_THRESHOLD})"
            f" — waiting for quiet box", file=sys.stderr,
        )
        time.sleep(15)
        load, load5 = _loadavg_1min(), _loadavg_5min()
    return load, load5, _is_dirty(load, load5)

# bench key -> registry key (BASELINE.md shapes + LLM headliners).
# Every key now has a measured ≤2x anchor: the original 8 in BASELINE.md
# "Measured baseline @ sf0.1", the later 5 (sim_topk, dedup_minhash,
# q9_profit, q21_waiting, hybrid_rrf) in BASELINE.md "Local anchors for
# the no-baseline bench queries" (tools/record_baselines.py).
HEADLINE = {
    "q1": "agg_pricing",
    "q3": "topk_orders",
    "q5": "join_star_q5",
    "window_rank": "win_topk_per_group",
    "events_hourly": "stream_tumbling",
    "docs_tokens": "text_stats",
    "dedup_exact": "dedup_exact",
    "json_extract": "json_extract",
    "sim_topk": "sim_topk",
    "dedup_minhash": "dedup_near_minhash",
    # heavier round-4 additions: multi-fact TPC-H composites + the
    # two-leg retrieval fusion — regression tracking for the new surface
    "q9_profit": "join_q9_profit",
    "q21_waiting": "join_q21_waiting",
    "hybrid_rrf": "sim_hybrid_rrf",
    # round-7/8 capstone families (r7 VERDICT task 5): the 2x gate now
    # covers the heaviest new LLM shapes, not only r1-r6 query forms.
    # Anchors in BASELINE.md "Local anchors ... (round 8)".
    "dedup_spans": "dedup_spans",
    "bpe_train": "tokenizer_bpe_train",
    "matryoshka": "sim_recall_matryoshka",
    # round-8 continuation capstones — anchors in BASELINE.md
    # "Local anchors for the round-8 continuation capstones".
    "source_matrix": "dedup_source_matrix",
    "ngram_novelty": "text_ngram_novelty",
    "silhouette": "sim_silhouette_label",
    # round-9 heavies (r8 VERDICT task 5): the round-9 window shapes
    # most likely to regress now carry falsifiable anchors — BASELINE.md
    # "Local anchors for the round-9 heavies".
    "quality_survivor": "dedup_quality_survivor",
    "decile_lift": "agg_decile_lift",
    "fps_downsample": "mm_video_fps_downsample",
    "reconciliation": "etl_reconciliation_gate",
    # round-10/11 heavies (r10 VERDICT task 4) — anchors in BASELINE.md
    # "Local anchors for the round-10/11 heavies".
    "png_decode": "mm_image_png_decode",
    "ledger_census": "sink_ledger_census",
}

# PySpark-warm anchors from BASELINE.md (the ≤2x bench gate, per key).
# BENCH_r09 and BENCH_r10 both shipped with a contiguous slow segment
# breaching the gate on keys whose code hadn't changed — box contention
# the start-time guard can't see. The per-key retry below consults these
# anchors: a key landing over 2x its anchor gets ONE re-attempt after a
# settle wait before its number is recorded (r10 VERDICT task 1).
ANCHORS = {
    "q1": 1.08, "q3": 7.13, "q5": 24.10, "window_rank": 2.88,
    "events_hourly": 1.23, "docs_tokens": 0.45, "dedup_exact": 0.40,
    "json_extract": 0.52, "sim_topk": 1.32, "dedup_minhash": 2.23,
    "q9_profit": 0.73, "q21_waiting": 0.79, "hybrid_rrf": 1.03,
    "dedup_spans": 1.19, "bpe_train": 3.18, "matryoshka": 1.29,
    "source_matrix": 11.76, "ngram_novelty": 1.92, "silhouette": 1.04,
    "quality_survivor": 4.51, "decile_lift": 0.79,
    "fps_downsample": 0.62, "reconciliation": 1.63,
    "png_decode": 1.12, "ledger_census": 3.76,
}


def main() -> None:
    from base_etl_spark import build_session, execute_fully, queries

    load_start, load5_start, wait_timed_out = _wait_for_quiet(LOAD_WAIT_SECS)
    spark = build_session(
        "bench",
        # keep stderr to the per-query lines: the stage progress bar
        # interleaves with them and reads like stalls in recorded logs
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # ERROR-only logs: the RRF/zipf rank legs run `WindowExec: No
    # Partition Defined` WARNs that are benign here (every such window
    # sits on a top-100/top-1000 bounded frame — inputs are capped by
    # TakeOrderedAndProject before the window; audited in
    # tests/test_plans.py) but bury real signal in the bench tail.
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    times: dict[str, float] = {}
    times_warm2: dict[str, float] = {}
    key_loads: dict[str, list[float | None]] = {}
    key_ext_busy: dict[str, list[int]] = {}
    key_midrun_ext: dict[str, int] = {}
    retried: list[str] = []
    dirty_keys: list[str] = []

    def _best_of_3(fn) -> list[float]:
        attempts = []
        for _ in range(3):  # cold + 2 warm; report best
            t0 = time.time()
            execute_fully(fn(spark, SF_DIR))
            attempts.append(time.time() - t0)
        return attempts

    for name, key in HEADLINE.items():
        fn = qs[key]
        # Per-key stamps (r10 VERDICT task 1, detector fixed r11): raw
        # loadavg for observability, plus the external-busy count that
        # actually drives the dirty flag — a mid-run spike from ANOTHER
        # process tree marks the key; the bench's own workers never do.
        l1, l5 = _loadavg_1min(), _loadavg_5min()
        key_loads[name] = [l1, l5]
        ext, kern = _external_busy()
        key_ext_busy[name] = [ext, kern]
        if _is_dirty_midrun(ext):
            dirty_keys.append(name)
        with _MidrunMonitor() as mon:
            attempts = _best_of_3(fn)
        key_midrun_ext[name] = mon.max_window_ext
        if mon.breached and name not in dirty_keys:
            dirty_keys.append(name)
        anchor = ANCHORS.get(name)
        # Retry on a hard 2x breach, or on 1.5x when the key's own load
        # stamp was dirty — the drifting-but-inside-gate segment BENCH_r09
        # and _r10 shipped (dedup_minhash 1.84x on a stamp-dirty segment)
        # is exactly what a settle-and-retry clears on a clean box.
        if anchor is not None and (
            min(attempts) > 2 * anchor
            or (name in dirty_keys and min(attempts) > 1.5 * anchor)
        ):
            # One retry after a settle wait: a single contended segment
            # must not become the key's number of record if the box can
            # clear. The retry's own stamp replaces the key's stamp only
            # if cleaner; both raw minima go to stderr for the log.
            print(
                f"# {name}: {round(min(attempts), 3)}s breaches 2x anchor"
                f" ({anchor}s) — settle wait + one retry", file=sys.stderr,
            )
            r1, r5, _ = _wait_for_quiet(min(LOAD_WAIT_SECS, 120))
            with _MidrunMonitor() as rmon:
                retry = _best_of_3(fn)
            print(
                f"# {name}: retry best {round(min(retry), 3)}s"
                f" (first {round(min(attempts), 3)}s)", file=sys.stderr,
            )
            if min(retry) < min(attempts):
                attempts = retry
                key_loads[name] = [r1, r5]
                ext, kern = _external_busy()
                key_ext_busy[name] = [ext, kern]
                key_midrun_ext[name] = rmon.max_window_ext
                if (
                    name in dirty_keys
                    and not _is_dirty_midrun(ext)
                    and not rmon.breached
                ):
                    dirty_keys.remove(name)
            retried.append(name)
        n = fn(spark, SF_DIR).count()  # rows for the report line; untimed
        times[name] = round(min(attempts), 3)
        times_warm2[name] = round(min(attempts[:2]), 3)  # r1-r4 methodology
        print(f"# {name} ({key}): {times[name]}s, {n} rows", file=sys.stderr)

    total = round(sum(times.values()), 3)
    load_end = _loadavg_1min()
    # Contaminated iff the box was dirty when we started (including a
    # timed-out quiet wait — previously shipped as false) OR any per-key
    # stamp breached mid-run.
    contaminated = (
        wait_timed_out
        or _is_dirty(load_start, load5_start)
        or bool(dirty_keys)
    )
    print(
        json.dumps(
            {
                "metric": "headline_warm_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "loadavg_start": load_start,
                "loadavg_5min_start": load5_start,
                "loadavg_end": load_end,
                "load_contaminated": contaminated,
                "load_wait_timed_out": wait_timed_out,
                "key_loadavg": key_loads,
                "key_external_busy": key_ext_busy,
                "key_midrun_ext": key_midrun_ext,
                "dirty_keys": dirty_keys,
                "retried_keys": retried,
                "methodology": (
                    "best-of-3 noop-sink since r6 (full materialization; "
                    "warm2 = best-of-2 attempts, r1-r4; r1-r5 engine "
                    "numbers were count()-based — within noise of sink "
                    "except json_extract, see SURVEY 2.17)"
                ),
                "value_warm2": round(sum(times_warm2.values()), 3),
                "queries_warm2": times_warm2,
            }
        )
    )


if __name__ == "__main__":
    main()
