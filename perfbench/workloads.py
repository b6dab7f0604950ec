"""The two workloads. Each puts its load on different layers.

A workload builds its inputs from the seed (:meth:`setup`, repeated for
the set-up metric), runs every operation shape once so code generation
and the JIT settle (:meth:`warm`), hands the runner one *unit* of work at
a time (a fixed list of operations, so every unit does the same work),
and checks the program's outputs outside the timed window
(:meth:`check`). Operations call only public functions of the package.

Layer spans are recorded here, around each call into the package; job
groups tag each operation's Spark jobs by phase (``run`` for an ingest,
``build`` for plan construction, ``action`` for the noop-sink run) so
their counters can be read after the window.
"""

from __future__ import annotations

import hashlib
import shutil
import time
import warnings
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from token_etl_spark import schemas
from token_etl_spark.io.sinks import read_upserted
from token_etl_spark.pipelines.dapps_pipeline import enrich_dapps
from token_etl_spark.pipelines.tokens import enhance_tokens
from token_etl_spark.pipelines.transfers import enrich_transfers, ingest_ranges
from token_etl_spark.pipelines.wallets import wallet_balance_changelogs
from token_etl_spark.plans.registry import BENCH_SET, SPECS

import gen
from measure import JobStats

#: io.sinks.merge_touched_buckets warns with this when it falls back to
#: one staged full rewrite instead of merging touched buckets
FULL_REWRITE_WARNING = "falling back to one staged full rewrite"


@dataclass
class Op:
    """One operation: ``fn(op_id)`` runs it; ``items`` is what it processes."""

    kind: str
    fn: Callable[[int], None]
    items: int


class Ctx:
    """What the workloads share: the session, the tracer and a work dir."""

    def __init__(self, spark, tracer, work: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.action_start_ms: dict[int, float] = {}
        self.tagged = False

    def tag(self, op_id: int, phase: str) -> None:
        """Tag the jobs that follow with the operation and phase. Only
        traced units do this."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group(op_id, phase), phase)
            self.tagged = True

    def untag(self) -> None:
        """Clear the job group, so jobs after an operation (the next
        untraced one, the checks) are not counted as its jobs."""
        if self.tagged:
            self.spark.sparkContext.setJobGroup("", "")
            self.tagged = False

    def run_noop(self, df, op_id: int) -> None:
        """Run ``df`` to completion through the noop sink: every column is
        produced and nothing is collected to Python."""
        self.tag(op_id, "action")
        if self.tracer.enabled:
            self.action_start_ms[op_id] = time.time() * 1000
        with self.tracer.span("spark.action"):
            df.write.format("noop").mode("overwrite").save()


def group(op_id: int, phase: str) -> str:
    return f"perfbench:{op_id}:{phase}"


def totals(counters, ops: list[dict], phases=("run", "build", "action"), scans: bool = False) -> JobStats:
    out = JobStats()
    for o in ops:
        for phase in phases:
            out.add(counters.group(group(o["op"], phase), scans=scans))
    return out


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.parent.mkdir(parents=True, exist_ok=True)
    return path


def _span_seconds(tracer, ops: list[dict], name: str) -> float:
    """Summed self time of spans called ``name`` inside the given ops."""
    ids = {o["op"] for o in ops}
    st = tracer.self_times()
    return sum(st[s.sid] for s in tracer.spans if s.name == name and s.op in ids)


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


# ---------------------------------------------------------------------------
# token_etl — the batch ETL: ingest (io.sinks), then changelogs (pipelines)
# ---------------------------------------------------------------------------


def enrich_pd(raw: pd.DataFrame, block_ts: pd.DataFrame) -> pd.DataFrame:
    """pandas twin of ``pipelines.transfers.enrich_transfers``."""
    ts = raw["block_number"].map(block_ts.set_index("block_number")["timestamp"])
    out = pd.DataFrame(
        {
            "_from": "wallets/" + raw["from_address"],
            "_to": "wallets/" + raw["to_address"],
            "contract_address": raw["contract_address"],
            "transaction_hash": raw["transaction_hash"],
            "log_index": raw["log_index"].astype(np.int64),
            "block_number": raw["block_number"].astype(np.int64),
            "value": raw["value"],
            "transact_at": ts.map(lambda v: None if pd.isna(v) else str(int(v))),
        }
    )
    out.insert(
        0, "_key",
        out["log_index"].astype(str) + "_" + out["block_number"].astype(str) + "_"
        + out["_from"] + "_" + out["_to"] + "_" + out["transaction_hash"],
    )
    return out


def key_hash(keys) -> str:
    return hashlib.sha256("\n".join(sorted(keys)).encode()).hexdigest()[:16]


def scaffold_rows(table: pd.DataFrame) -> int:
    """Rows of the wallet pipeline's densify scaffold for this table:
    per token, distinct endpoint wallets × distinct active hours."""
    hours = table["transact_at"].astype(np.int64) // 3600
    ends = pd.concat([
        pd.DataFrame({"c": table["contract_address"], "w": table["_from"]}),
        pd.DataFrame({"c": table["contract_address"], "w": table["_to"]}),
    ])
    wallets = ends.groupby("c")["w"].nunique()
    active = hours.groupby(table["contract_address"]).nunique()
    return int((wallets * active).sum())


class TokenEtl:
    """One unit is one ETL batch into a fresh table, as the paper's system
    runs it: ingest block ranges through ``pipelines.transfers.
    ingest_ranges`` (``enrich_transfers`` as the batch loader) into
    ``io.sinks.upsert_by_key_incremental``, then read the table back with
    ``io.sinks.read_upserted`` and run ``enhance_tokens``,
    ``wallet_balance_changelogs`` and ``enrich_dapps`` through the noop
    sink.

    The ingest has three phases: a backfill of large ranges (the first
    writes an empty table, the rest touch every bucket and take the
    full-rewrite fallback), a head phase of small ranges (per-bucket
    merge), and a re-ingest of two earlier ranges with corrected values
    (last write wins)."""

    N_EVENTS = 24_000
    N_WALLETS = 20_000
    N_TOKENS = 24
    HOURS = 48
    N_BUCKETS = 16
    BACKFILL_RANGES = 3
    HEAD_RANGES = 6
    HEAD_EVENTS = 6  # well under 0.75 * N_BUCKETS buckets → per-bucket merge
    REINGEST = (0, BACKFILL_RANGES)  # the first backfill and first head range
    PIPELINES = ("tokens", "wallets", "dapps")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.tables: list[Path] = []
        self.full_rewrites: dict[int, int] = {}  # op id → fallbacks taken

    def setup(self, rep: int) -> None:
        """Generate the events and write them as the parquet source table
        (the reference reads them from Postgres); the ingest scans it
        with the block range pushed down."""
        spark = self.ctx.spark
        d = gen.transfers(self.ctx.seed, self.N_EVENTS, self.N_WALLETS, self.N_TOKENS, self.HOURS)
        corrected = d.raw.assign(value=np.round(d.raw["value"] * 1.5 + 1.0, 6))
        src = _fresh(self.ctx.work / f"source{rep}")
        src.mkdir()
        self.frames = {}
        for label, pdf, schema in (
            ("raw", d.raw, schemas.RAW_TRANSFER_EVENT),
            ("corrected", corrected, schemas.RAW_TRANSFER_EVENT),
            ("dim", d.block_timestamps, schemas.BLOCK_TIMESTAMPS),
        ):
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), src / f"{label}.parquet")
            self.frames[label] = spark.read.schema(schema).parquet(str(src / f"{label}.parquet"))
        self.frames["meta"] = spark.createDataFrame(d.token_metadata, schemas.TOKEN_METADATA)
        self.frames["registry"] = spark.createDataFrame(d.dapp_registry, schemas.DAPP_REGISTRY)
        self.data, self.corrected = d, corrected

        blocks = d.raw["block_number"].to_numpy()
        lo, hi = int(blocks[0]), int(blocks[-1])
        # backfill: the first 80% of the block span in equal ranges;
        # head: ranges just past it holding HEAD_EVENTS events each
        cut = lo + (hi - lo) * 4 // 5
        edges = np.linspace(lo, cut, self.BACKFILL_RANGES + 1).astype(int)
        ranges = [("raw", (int(a), int(b) - 1)) for a, b in zip(edges[:-1], edges[1:])]
        later = blocks[blocks >= cut]
        for _ in range(self.HEAD_RANGES):
            first, last = int(later[0]), int(later[self.HEAD_EVENTS - 1])
            ranges.append(("raw", (first, last)))
            later = later[later > last]
        ranges += [("corrected", ranges[j][1]) for j in self.REINGEST]
        self.ranges = ranges
        self.rows = [int(((blocks >= a) & (blocks <= b)).sum()) for _, (a, b) in ranges]
        self.want = self._expected()
        self.scaffold_rows = scaffold_rows(self.want)

    def _ingest(self, path: Path, label: str, rng: tuple[int, int], op_id: int) -> None:
        tr = self.ctx.tracer

        def load(a: int, b: int):
            with tr.span("pipelines.transfers.enrich_transfers"):
                return enrich_transfers(self.frames[label], self.frames["dim"], a, b)

        self.ctx.tag(op_id, "run")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with tr.span("pipelines.transfers.ingest_ranges"):
                ingest_ranges(self.ctx.spark, [rng], load, str(path), n_buckets=self.N_BUCKETS)
        self.full_rewrites[op_id] = sum(FULL_REWRITE_WARNING in str(w.message) for w in caught)

    def _pipeline(self, path: Path, kind: str, op_id: int) -> None:
        tr = self.ctx.tracer
        meta, registry = self.frames["meta"], self.frames["registry"]
        self.ctx.tag(op_id, "build")
        with tr.span("io.sinks.read_upserted"):
            transfers = read_upserted(self.ctx.spark, str(path))
        with tr.span(f"pipelines.{kind}"):
            if kind == "tokens":
                df = enhance_tokens(transfers, meta, registry)
            elif kind == "wallets":
                df = wallet_balance_changelogs(transfers, meta)
            else:
                df = enrich_dapps(transfers, registry)
        self.ctx.run_noop(df, op_id)

    def _ops(self, path: Path, ranges) -> list[Op]:
        ops = [
            Op("ingest", lambda op, label=label, r=r: self._ingest(path, label, r, op), rows)
            for (label, r), rows in ranges
        ]
        n = len(self.want)
        ops += [Op(k, lambda op, k=k: self._pipeline(path, k, op), n) for k in self.PIPELINES]
        return ops

    def unit(self, k: int) -> list[Op]:
        path = _fresh(self.ctx.work / f"unit{k}")
        self.tables.append(path)
        return self._ops(path, zip(self.ranges, self.rows))

    def warm(self) -> None:
        # one operation of each shape: first write, full rewrite, bucket
        # merge, and the three pipelines
        shapes = [0, 1, self.BACKFILL_RANGES]
        picked = [(self.ranges[i], self.rows[i]) for i in shapes]
        for op in self._ops(_fresh(self.ctx.work / "warm"), picked):
            op.fn(-1)

    def _expected(self) -> pd.DataFrame:
        parts = []
        for label, (a, b) in self.ranges:
            src = self.data.raw if label == "raw" else self.corrected
            parts.append(src[(src["block_number"] >= a) & (src["block_number"] <= b)])
        rows = enrich_pd(pd.concat(parts, ignore_index=True), self.data.block_timestamps)
        return rows.drop_duplicates("_key", keep="last").sort_values("_key").reset_index(drop=True)

    def check(self) -> list[str]:
        """Each unit's table equals a pandas last-write-wins over the
        ingested events; the last table's per-token tx counts and volumes
        from ``enhance_tokens`` equal pandas sums."""
        want = self.want
        problems = []
        for path in self.tables:
            got = read_upserted(self.ctx.spark, str(path)).toPandas()
            if got["_key"].duplicated().any():
                problems.append(f"{path.name}: duplicate keys")
                continue
            got = got[list(want.columns)].sort_values("_key").reset_index(drop=True)
            if key_hash(got["_key"]) != key_hash(want["_key"]):
                problems.append(f"{path.name}: key set differs ({len(got)} vs {len(want)} keys)")
                continue
            got = got.astype({"log_index": np.int64, "block_number": np.int64})
            if not got.equals(want):
                bad = (got != want) & ~(got.isna() & want.isna())
                problems.append(f"{path.name}: values differ in {sorted(bad.columns[bad.any()])}")

        docs = enhance_tokens(
            read_upserted(self.ctx.spark, str(self.tables[-1])),
            self.frames["meta"], self.frames["registry"],
        ).select("contract_address", "txChanges", "tradingVolumeChanges").toPandas()
        docs = docs.set_index("contract_address")
        sums = want.groupby("contract_address")["value"].agg(["size", "sum"])
        if set(docs.index) != set(sums.index):
            return problems + [f"tokens: {len(docs)} documents for {len(sums)} tokens"]
        for token, row in sums.iterrows():
            tx = sum(dict(docs.at[token, "txChanges"]).values())
            vol = sum(dict(docs.at[token, "tradingVolumeChanges"]).values())
            if tx != row["size"] or not np.isclose(vol, row["sum"], rtol=1e-9, atol=1e-6):
                problems.append(f"token {token}: tx {tx} vs {row['size']}, volume {vol} vs {row['sum']}")
        return problems

    def layer_metrics(self, counters, tracer, ops: list[dict]) -> dict[str, float]:
        ingest = [o for o in ops if o["kind"] == "ingest"]
        enrich = [o for o in ops if o["kind"] != "ingest"]
        tokens = [o for o in ops if o["kind"] == "tokens"]
        sink = totals(counters, ingest, ("run",))
        calls = totals(counters, enrich)
        rows = sum(o["items"] for o in ingest)
        upsert_s = _span_seconds(tracer, ingest, "pipelines.transfers.ingest_ranges")
        read_s = _span_seconds(tracer, enrich, "io.sinks.read_upserted")
        build_s = _span_seconds(tracer, ingest, "pipelines.transfers.enrich_transfers")
        out = {
            "pipelines.transfers.build_s": _mean(build_s, len(ingest)),
            "io.sinks.upsert_s": _mean(upsert_s, len(ingest)),
            "io.sinks.read_s": _mean(read_s, len(enrich)),
            "io.sinks.jobs_per_range": _mean(sink.jobs, len(ingest)),
            "io.sinks.tasks_per_range": _mean(sink.tasks, len(ingest)),
            "io.sinks.full_rewrite_ratio": _mean(sum(self.full_rewrites[o["op"]] for o in ingest), len(ingest)),
            "io.sinks.rows_rewritten_per_row": _mean(sink.output_records, rows),
            "io.sinks.bytes_per_row": _mean(sink.output_bytes, rows),
            "io.sinks.files": float(sum(1 for _ in self.tables[-1].rglob("*.parquet"))),
            "operators.exec_cpu_s": _mean(calls.exec_cpu_s, len(enrich)),
            "operators.shuffle_bytes": _mean(calls.shuffle_bytes, len(enrich)),
            "operators.spill_bytes": _mean(calls.spill_bytes, len(enrich)),
            "pipelines.tokens.scan_stages": _mean(totals(counters, tokens, scans=True).scan_stages, len(tokens)),
            "pipelines.wallets.scaffold_rows": float(self.scaffold_rows),
        }
        for kind in self.PIPELINES:
            times = [o["seconds"] for o in ops if o["kind"] == kind]
            out[f"pipelines.{kind}.s"] = _mean(sum(times), len(times))
        return out

    def info(self) -> dict:
        return {
            "data": self.data.stats,
            "n_buckets": self.N_BUCKETS,
            "ranges": [f"{label}:{a}-{b}:{r}" for (label, (a, b)), r in zip(self.ranges, self.rows)],
            "table_rows": len(self.want),
            "key_hash": key_hash(self.want["_key"]),
            "scaffold_rows": self.scaffold_rows,
        }


# ---------------------------------------------------------------------------
# query_mix — the plan/overhead path (plans)
# ---------------------------------------------------------------------------

#: The BENCH_SET queries this workload runs: the ROADMAP's four open
#: targets plus cheap queries from each other family. All 28 would push
#: a run past the benchmark's time budget (a cold plus a warm pass of the
#: 28 takes about 70 s on 4 task slots).
QUERIES = (
    "ext_semantic_dedup",
    "ext_knn_label_noise_ivf",
    "ext_corpus_prep",
    "ext_bloom_decontaminate",
    "tpch_brand_revenue",
    "tpch_forecast_revenue",
    "tpch_pricing_summary",
    "tpch_segment_priority",
    "ext_dedup_exact",
    "ext_text_stats",
    "ext_pii_scan",
    "evt_sessionization",
    "evt_hourly_active_users",
    "rel_asof_last_click",
)


class QueryMix:
    """The registry's headline queries over seeded test tables at sf0.01
    (:func:`gen.query_tables`). A unit is PASSES passes over the query
    set, each in its own seed-shuffled order. The warm-up pass collects
    every query and compares it with its DuckDB oracle in
    ``plans.registry.ORACLES``."""

    PASSES = 2

    def __init__(self, ctx: Ctx):
        missing = [q for q in QUERIES if q not in BENCH_SET]
        if missing:
            raise KeyError(f"not in plans.registry.BENCH_SET: {missing}")
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.problems: list[str] = []

    def setup(self, rep: int) -> None:
        self.dir = _fresh(self.ctx.work / f"tables{rep}")
        self.dir.mkdir()
        self.rows = gen.query_tables(self.dir, self.ctx.seed)

    def _query(self, name: str, op_id: int) -> None:
        self.ctx.tag(op_id, "build")
        with self.ctx.tracer.span("plans.build"):
            df = SPECS[name].fn(self.ctx.spark, str(self.dir))
        self.ctx.run_noop(df, op_id)

    def _order(self) -> list[str]:
        return [QUERIES[i] for i in self.rng.permutation(len(QUERIES))]

    def unit(self, k: int) -> list[Op]:
        return [
            Op(q, lambda op, q=q: self._query(q, op), 1)
            for _ in range(self.PASSES) for q in self._order()
        ]

    def warm(self) -> None:
        import duckdb

        cc = gen.repo_script("check_correctness")
        con = duckdb.connect()
        try:
            for name in self.rows:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.dir / name}.parquet')")
            for name in self._order():
                spark_pdf = SPECS[name].fn(self.ctx.spark, str(self.dir)).toPandas()
                duck_pdf = con.execute(SPECS[name].oracle).df()
                if len(spark_pdf) != len(duck_pdf):
                    self.problems.append(f"{name}: rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
                elif sorted(map(str.lower, spark_pdf.columns)) != sorted(map(str.lower, duck_pdf.columns)):
                    self.problems.append(f"{name}: columns differ")
                else:
                    self.problems += [f"{name}: {p}" for p in cc.frames_match(spark_pdf, duck_pdf)]
        finally:
            con.close()

    def check(self) -> list[str]:
        return self.problems

    def layer_metrics(self, counters, tracer, ops: list[dict]) -> dict[str, float]:
        build_s = _span_seconds(tracer, ops, "plans.build")
        out = {
            "plans.build_s": _mean(build_s, len(ops)),
            "plans.build_jobs": _mean(totals(counters, ops, ("build",)).jobs, len(ops)),
        }
        for q in QUERIES:
            times = [o["seconds"] for o in ops if o["kind"] == q]
            out[f"query.{q}_s"] = _mean(sum(times), len(times))
        return out

    def info(self) -> dict:
        return {"queries": list(QUERIES), "passes": self.PASSES,
                "rows": self.rows}
