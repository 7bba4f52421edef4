"""The benchmark's workloads: their inputs, their ops and their output checks.

An op is one timed engine call: one registry key run through the noop
sink, one daily-job date through `etl.run_range`, or one
`graph_components` call. Each workload makes its inputs from the seed,
runs one op at a time through the `Harness`, and checks the outputs it
collected in the untimed warm-up pass (and, for the daily job, the
output tree and database left by every pass).
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import statistics

import numpy as np

import datagen

# op name -> registry key. One key per mechanism of the LLM operators:
# the minhash pair join and verify, the driver loops of label propagation
# and BPE training, a vector top-k fusion and an Arrow Python worker.
LLM_CORPUS = {
    "dedup_minhash": "dedup_near_minhash",
    "quality_survivor": "dedup_quality_survivor",
    "bpe_train": "tokenizer_bpe_train",
    "hybrid_rrf": "sim_hybrid_rrf",
    "png_decode": "mm_image_png_decode",
}
ANALYTICS = {
    "q1": "agg_pricing",
    "q3": "topk_orders",
    "q5": "join_star_q5",
    "q9_profit": "join_q9_profit",
    "q21_waiting": "join_q21_waiting",
    "window_rank": "win_topk_per_group",
    "decile_lift": "agg_decile_lift",
    "events_hourly": "stream_tumbling",
    "json_extract": "json_extract",
    "reconciliation": "etl_reconciliation_gate",
}
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BPE_MERGES = 8  # the engine's merge-table length
DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def duck(data_dir: str):
    """DuckDB connection with one view per input table."""
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


def ref_bpe(freqs: dict[str, int], n_merges: int) -> list[tuple]:
    """Plain-Python BPE trainer: pair counts weighted by word frequency
    over symbols ending in '</w>', the winner is the highest count and
    then the smallest pair, merges apply left to right without overlap."""
    words = {w: list(w) + ["</w>"] for w in freqs}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freqs[w]
        if not counts:
            break
        (left, right), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, left + right, n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (left, right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


class KeyWorkload:
    """Registry keys through the noop sink, checked against their oracles."""

    def __init__(self, name: str, keys: dict[str, str], sf: float) -> None:
        self.name, self.keys, self.sf = name, keys, sf
        self.ops = self.kinds = list(keys)

    def prepare(self, work: str, seed: int) -> str:
        data = os.path.join(work, "data")
        datagen.write_tables(data, seed, self.sf)
        return data

    def kind(self, op: str) -> str:
        return op

    def attach(self, h) -> None:
        pass

    def run_op(self, h, op: str, collect: bool):
        return h.run_key(op, self.keys[op], collect)

    def check(self, h, outputs: dict) -> dict[str, list[str]]:
        from base_etl_spark import oracle_sql
        from base_etl_spark.compare import compare_strict

        sqls = oracle_sql()
        con = duck(h.data_dir)
        problems: dict[str, list[str]] = {}
        for op, (cols, rows) in outputs.items():
            key = self.keys[op]
            if key == "tokenizer_bpe_train":
                problems[op] = self._check_bpe(con, cols, rows)
            else:
                problems[op] = compare_strict(cols, rows, con.sql(sqls[key]).df())
        return problems

    @staticmethod
    def _check_bpe(con, cols: list[str], rows: list[tuple]) -> list[str]:
        freqs = dict(con.sql(
            "SELECT w, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS w "
            "FROM documents) WHERE w <> '' GROUP BY w"
        ).fetchall())
        want = ref_bpe(freqs, BPE_MERGES)
        by_col = [dict(zip(cols, r)) for r in rows]
        got = sorted(
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
            for r in by_col
        )
        return [] if got == want else [f"merge table differs from reference: {got[:2]} vs {want[:2]}"]

    def layer_metrics(self, h) -> dict[str, float]:
        return {}


class DeepGraph(KeyWorkload):
    """`graph_components` on a one-chain supplier graph."""

    def __init__(self, n_nodes: int) -> None:
        super().__init__("deep_graph", {"graph_components": "graph_components"}, 0.0)
        self.n_nodes = n_nodes

    def prepare(self, work: str, seed: int) -> str:
        data = os.path.join(work, "data")
        datagen.write_deep_graph(data, seed, self.n_nodes)
        return data

    def check(self, h, outputs: dict) -> dict[str, list[str]]:
        want = [{"component_id": 0, "n_nodes": self.n_nodes}]
        problems = {}
        for op, (cols, rows) in outputs.items():
            got = [dict(zip(cols, r)) for r in rows]
            problems[op] = [] if got == want else [f"components {got}, want {want}"]
        return problems


class DailyBackfill:
    """`etl.run_range` one logical date at a time into partitioned
    parquet, a run log and an in-memory Derby table; every pass after
    the first replays the same dates. Each pass ends with one
    `sink_ledger_census`."""

    name = "daily_backfill"
    kinds = ["run_range", "ledger_census"]

    def __init__(self, n_dates: int, sf: float) -> None:
        self.n_dates, self.sf = n_dates, sf
        self.ops: list[str] = []

    def prepare(self, work: str, seed: int) -> str:
        data = os.path.join(work, "data")
        datagen.write_tables(data, seed, self.sf)
        rng = np.random.default_rng(seed)
        offsets = sorted(rng.choice(datagen.ORDER_DAYS, self.n_dates, replace=False))
        days = [datagen.ORDER_DAY0 + dt.timedelta(days=int(o)) for o in offsets]
        self.ops = [d.isoformat() for d in days] + ["ledger_census"]
        return data

    def kind(self, op: str) -> str:
        return "ledger_census" if op == "ledger_census" else "run_range"

    def attach(self, h) -> None:
        """Output locations for one engine session."""
        self.out = os.path.join(h.work, "daily")
        self.run_log = os.path.join(h.work, "run_log")
        self.jdbc_url = f"jdbc:derby:memory:{h.phase};create=true"
        self.day_s: list[float] = []

    def run_op(self, h, op: str, collect: bool):
        if op == "ledger_census":
            return h.run_key(op, "sink_ledger_census", collect)
        from base_etl_spark import etl

        def call():
            return etl.run_range(
                h.spark, h.data_dir, [dt.date.fromisoformat(op)], self.out,
                run_log_path=self.run_log, jdbc_url=self.jdbc_url, jdbc_properties=DERBY,
            )

        (rec,) = h.run_call(op, call)
        if rec["status"] != "success":
            raise RuntimeError(f"run_range {op}: {rec['error']}")
        if h.timed:
            self.day_s.append(rec["duration_sec"])
        return rec["rows"]

    def _parquet_rows(self) -> dict[str, int]:
        import duckdb

        return dict(duckdb.sql(
            f"SELECT CAST(ds AS VARCHAR), count(*) FROM read_parquet('{self.out}/*/*.parquet', "
            "hive_partitioning = true) GROUP BY ds"
        ).fetchall())

    def _jdbc_rows(self, h) -> dict[str, int]:
        df = (
            h.spark.read.format("jdbc").option("url", self.jdbc_url)
            .option("dbtable", "daily_order_summary").option("driver", DERBY["driver"]).load()
        )
        return {r[0]: r[1] for r in df.groupBy("ds").count().collect()}

    def check(self, h, outputs: dict) -> dict[str, list[str]]:
        from base_etl_spark import oracle_sql
        from base_etl_spark.compare import compare_strict

        con = duck(h.data_dir)
        per_day = dict(con.sql(
            "SELECT strftime(o_orderdate, '%Y-%m-%d'), count(*) FROM orders GROUP BY 1"
        ).fetchall())
        parquet, jdbc = self._parquet_rows(), self._jdbc_rows(h)
        log = h.spark.read.parquet(self.run_log).groupBy("ds", "status").count().collect()
        runs = {(r.ds, r.status): r[2] for r in log}
        problems: dict[str, list[str]] = {}
        for op in self.ops[:-1]:
            want = per_day.get(op, 0)
            p = []
            if parquet.get(op, 0) != want:
                p.append(f"parquet rows {parquet.get(op, 0)}, orders that day {want}")
            if jdbc.get(op, 0) != parquet.get(op, 0):
                p.append(f"jdbc rows {jdbc.get(op, 0)}, parquet rows {parquet.get(op, 0)}")
            mine = {k: v for k, v in runs.items() if k[0] == op}
            if mine != {(op, "success"): h.passes_run}:
                p.append(f"run log {mine}, want {h.passes_run} successes")
            problems[op] = p
        if "ledger_census" in outputs:  # absent if the op itself failed
            cols, rows = outputs["ledger_census"]
            sql = oracle_sql()["sink_ledger_census"]
            problems["ledger_census"] = compare_strict(cols, rows, con.sql(sql).df())
        return problems

    def layer_metrics(self, h) -> dict[str, float]:
        files = glob.glob(os.path.join(self.out, "*", "*.parquet"))
        return {
            "sinks.parquet_files": len(files),
            "sinks.parquet_bytes": sum(os.path.getsize(f) for f in files),
            "sinks.jdbc_rows": sum(self._jdbc_rows(h).values()),
            "etl.run_daily_job_s": statistics.median(self.day_s) if self.day_s else 0.0,
        }


def make(name: str):
    if name == "llm_corpus":
        return KeyWorkload(name, LLM_CORPUS, 0.01)
    if name == "daily_backfill":
        return DailyBackfill(n_dates=3, sf=0.05)
    if name == "analytics":
        return KeyWorkload(name, ANALYTICS, 0.01)
    if name == "deep_graph":
        return DeepGraph(n_nodes=64)
    raise KeyError(name)


# BENCHMARK.json lists the first two; the other two run on request (README)
WORKLOADS = ("llm_corpus", "daily_backfill", "analytics", "deep_graph")
GATED = WORKLOADS[:2]
