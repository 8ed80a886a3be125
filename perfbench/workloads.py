"""The three benchmark workloads.

Each workload is a closed loop driven by one client thread. ``setup``
does the one-time work (cold first calls, index / MV / MOR base builds,
one warm-up round) and records the reference result of every call;
``round(rng)`` returns the next seed-shuffled round of calls. A run
makes ``--seconds // round_s`` rounds. A call is a ``Call``: ``prepare``
builds its inputs (not timed), ``run`` is the timed work, ``check``
compares its output with the reference (not timed).
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from check import digest, rows_of, same_rows

#: short read-only gates: build and planning dominate, no writes
READ_GATES = [
    "pricing_summary",
    "shipping_priority",
    "customer_order_counts",
    "pivot_status_counts",
    "parameterized_sql_revenue",
    "indexed_segment_lookup",
    "indexed_range_lookup",
    "indexed_chain_lookup",
    "bucketed_mv_join",
    "result_cache_revenue",
]

#: heavy pipelines: shuffles, Python workers, py4j-heavy gate functions
CORPUS_GATES = [
    "dedup_minhash_pairs",
    "dedup_simhash_near_pairs",
    "ann_ivfpq_topk",
    "knn_bruteforce",
    "tfidf_top_terms",
    "nation_transitive_closure",
    "udaf_weighted_price",
]

#: streaming-ingest gate: the micro-batch share of maintenance_writes
STREAM_GATES = ["mor_stream_txn_ingest"]


@dataclass
class Call:
    name: str
    run: Callable[[Any], Any]
    check: Callable[[Any], bool]
    prepare: Callable[[], None] | None = None


def run_gate(spark, fn, sf_dir: str, tr) -> pd.DataFrame:
    """One gate invocation: build, plan, then collect the result."""
    with tr.span("queries.build"):
        df = fn(spark, sf_dir)
    with tr.span("planner.plan"):
        df._jdf.queryExecution().executedPlan()
    with tr.span("exec.action"):
        return df.toPandas()


class GateWorkload:
    """A seed-shuffled loop over registered gates; every round calls each
    gate once, in a new order."""

    def __init__(self, spark, sf_dir: str, gates: list[str], round_s: float):
        from linqonsteroids_spark.queries import ALL

        self.spark, self.sf_dir, self.gates, self.round_s = spark, sf_dir, gates, round_s
        self.fns = {g: ALL[g][0] for g in gates}
        self.oracles = {g: ALL[g][1] for g in gates if ALL[g][1]}
        self.ref: dict[str, tuple] = {}
        self.first_call_s: dict[str, float] = {}
        self.warm_calls = 0
        self.warm_failed: list[str] = []

    def setup(self, tr) -> None:
        for g in self.gates:
            t0 = time.perf_counter()
            pdf = run_gate(self.spark, self.fns[g], self.sf_dir, tr)
            self.first_call_s[g] = round(time.perf_counter() - t0, 3)
            self.ref[g] = (digest(pdf), rows_of(pdf))
        self._warm_round(tr)

    def _warm_round(self, tr) -> None:
        """One checked round before timing. Calls keep getting faster
        after the first (JIT, Python imports, file caches); on
        ``reads_interactive`` the first round after the first calls was
        20-40 % slower than the next ones, and by a different amount in
        every run. Wrong results here count as failed checks."""
        t0 = time.perf_counter()
        for call in self.warm_subset(self.round(np.random.default_rng(0))):
            if call.prepare:
                call.prepare()
            self.warm_calls += 1
            if not call.check(call.run(tr)):
                self.warm_failed.append(call.name)
        self.first_call_s["warm_round"] = round(time.perf_counter() - t0, 3)

    def warm_subset(self, calls: list[Call]) -> list[Call]:
        """The calls of a round that the warm-up round makes."""
        return calls

    def oracle_mismatches(self) -> list[str]:
        """Gates whose setup result differs from their DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        for t in os.listdir(self.sf_dir):
            if t.endswith(".parquet"):
                path = os.path.join(self.sf_dir, t)
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
        bad = []
        for g, sql in self.oracles.items():
            ref = rows_of(con.execute(sql).df())
            if not same_rows(self.ref[g][1], ref):
                bad.append(g)
        con.close()
        return bad

    def check_gate(self, g: str, pdf: pd.DataFrame) -> bool:
        return digest(pdf) == self.ref[g][0] or same_rows(rows_of(pdf), self.ref[g][1])

    def gate_call(self, g: str) -> Call:
        return Call(
            g,
            lambda tr: run_gate(self.spark, self.fns[g], self.sf_dir, tr),
            lambda pdf: self.check_gate(g, pdf),
        )

    def round(self, rng: np.random.Generator) -> list[Call]:
        return [self.gate_call(self.gates[i]) for i in rng.permutation(len(self.gates))]

    def finish(self, space_amp: bool) -> dict:
        return {"failed": 0}


class MaintenanceWorkload(GateWorkload):
    """Writes beside reads of one merge-on-read table over ``orders``.

    A round is one compaction cycle of ``WRITES`` write steps. A write
    step applies one delta over seed-chosen keys, through ``append_delta``
    (upserts and deletes) or ``merge_into`` (upserts) in turn, maintains
    the priority rollup MV from ``changes()``, then makes two point
    lookups and one full read in seed order; so reads and lookups see a
    delta chain that grows through the cycle. The cycle ends with the
    streaming-ingest gate and ``compact``. Every round has the same call
    mix. The expected table is kept in pandas and every output is checked
    against it.
    """

    DELTA_FRACTION = 0.01
    LOOKUP_KEYS = 16
    WRITES = 2

    def __init__(self, spark, sf_dir: str, work_dir: str):
        super().__init__(spark, sf_dir, STREAM_GATES, round_s=8.0)
        self.path = os.path.join(work_dir, "mor_orders")

    # -- expected state ------------------------------------------------------
    def _cents_col(self):
        from pyspark.sql import functions as F

        return (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")

    def _expected_mv(self) -> pd.DataFrame:
        g = self.state.groupby("o_orderpriority")["cents"]
        return pd.DataFrame({"o_orderpriority": g.sum().index, "price_cents": g.sum().values,
                             "n_orders": g.count().values})

    def setup(self, tr) -> None:
        from pyspark.sql import functions as F

        from linqonsteroids_spark.catalog import load_table
        from linqonsteroids_spark.operators.mor import MorTable

        t0 = time.perf_counter()
        orders = load_table(self.spark, self.sf_dir, "orders")
        self.schema = orders.schema
        self.table = MorTable(self.spark, self.path, "o_orderkey")
        self.table.write_base(orders, stats_files=4)
        self.state = orders.toPandas().set_index("o_orderkey")
        self.state["cents"] = np.round(self.state["o_totalprice"].to_numpy() * 100).astype(np.int64)
        self.next_key = int(self.state.index.max()) + 1
        self.deleted: list[int] = []
        self.version = self.mv_version = 0
        self.mv = (
            self.table.read().withColumn("cents", self._cents_col())
            .groupBy("o_orderpriority")
            .agg(F.sum("cents").alias("price_cents"), F.count("*").cast("bigint").alias("n_orders"))
            .localCheckpoint(eager=True)
        )
        self.first_call_s["mor_base_and_mv"] = round(time.perf_counter() - t0, 3)
        super().setup(tr)  # first call of each streaming gate, then a warm round

    # -- calls -----------------------------------------------------------------
    def _write_call(self, rng: np.random.Generator, use_merge: bool) -> Call:
        box: dict = {}

        def prepare():
            live = self.state.index.to_numpy()
            n = max(4, int(len(live) * self.DELTA_FRACTION))
            picked = rng.choice(live, n + (0 if use_merge else n // 2), replace=False)
            upd, dels = picked[:n], picked[n:]
            ins = np.arange(self.next_key, self.next_key + n // 2)
            rows = self.state.loc[upd].reset_index()
            new = self.state.loc[rng.choice(live, len(ins))].reset_index()
            new["o_orderkey"] = ins
            up = pd.concat([rows, new], ignore_index=True)
            up["o_totalprice"] = np.round(rng.uniform(1_000.0, 500_000.0, len(up)), 2)
            up["o_orderpriority"] = rng.choice(sorted(self.state["o_orderpriority"].unique()), len(up))
            box.update(upd=upd, dels=dels, ins=ins, up=up)
            box["up_df"] = self.spark.createDataFrame(up[self.schema.names], schema=self.schema)
            box["del_df"] = self.spark.createDataFrame(
                pd.DataFrame({"o_orderkey": dels.astype(np.int64)}), schema="o_orderkey long")

        def run(tr):
            if use_merge:
                return self.table.merge_into(source=box["up_df"])
            return self.table.append_delta(upserts=box["up_df"], delete_keys=box["del_df"])

        def check(out) -> bool:
            ok = True
            if use_merge:
                ok = out["updated"] == len(box["upd"]) and out["inserted"] == len(box["ins"])
                out = out["version"]
            ok = ok and out > self.version
            self.version = out
            up = box["up"].set_index("o_orderkey")
            up["cents"] = np.round(up["o_totalprice"].to_numpy() * 100).astype(np.int64)
            self.state = pd.concat([self.state.drop(index=np.concatenate([box["upd"], box["dels"]])), up])
            self.deleted.extend(int(k) for k in box["dels"])
            self.next_key += len(box["ins"])
            return ok

        return Call("mor_merge" if use_merge else "mor_append", run, check, prepare)

    def _maintain_call(self) -> Call:
        from linqonsteroids_spark.streaming.incremental import apply_cdf_to_agg_mv

        def run(tr):
            feed = self.table.changes(self.mv_version, self.version, include_preimages=True)
            mv = apply_cdf_to_agg_mv(
                self.mv, feed.withColumn("cents", self._cents_col()),
                ["o_orderpriority"], {"price_cents": "cents"}, count_col="n_orders",
            ).localCheckpoint(eager=True)
            self.mv, self.mv_version = mv, self.version
            with tr.span("exec.action"):
                return mv.toPandas()

        return Call("mv_maintain", run, lambda pdf: same_rows(rows_of(pdf), rows_of(self._expected_mv())))

    def _lookup_call(self, rng: np.random.Generator) -> Call:
        box: dict = {}

        def prepare():
            keys = list(rng.choice(self.state.index.to_numpy(), self.LOOKUP_KEYS - 4, replace=False))
            if self.deleted:
                keys += list(rng.choice(self.deleted, 4))
            box["keys"] = [int(k) for k in keys]

        def run(tr):
            df = self.table.lookup(box["keys"])
            with tr.span("exec.action"):
                return df.toPandas()

        def check(pdf) -> bool:
            want = self.state.loc[self.state.index.intersection(box["keys"])]
            got = pdf.set_index("o_orderkey")
            return (sorted(got.index) == sorted(want.index)
                    and (np.round(got.loc[want.index, "o_totalprice"].to_numpy() * 100) == want["cents"].to_numpy()).all()
                    and (got.loc[want.index, "o_orderpriority"] == want["o_orderpriority"]).all())

        return Call("mor_lookup", run, check, prepare)

    def _read_call(self) -> Call:
        from pyspark.sql import functions as F

        def run(tr):
            df = self.table.read().agg(F.count("*").alias("n"), F.sum(self._cents_col()).alias("cents"))
            with tr.span("exec.action"):
                return df.toPandas()

        def check(pdf) -> bool:
            return int(pdf["n"][0]) == len(self.state) and int(pdf["cents"][0]) == int(self.state["cents"].sum())

        return Call("mor_read", run, check)

    def _compact_call(self) -> Call:
        return Call("mor_compact", lambda tr: self.table.compact(), lambda out: out >= 0)

    def warm_subset(self, calls: list[Call]) -> list[Call]:
        """The warm-up is the first write step of a round: an
        ``append_delta`` with its MV maintenance, lookups and read. It
        leaves a delta for the first timed round, so that round's reads
        see chains of two and three deltas, and the next one's one and
        two."""
        writes = [i for i, c in enumerate(calls) if c.name in ("mor_append", "mor_merge")]
        return calls[: writes[1]]

    def round(self, rng: np.random.Generator) -> list[Call]:
        calls: list[Call] = []
        for i in range(self.WRITES):
            reads = [self._lookup_call(rng), self._lookup_call(rng), self._read_call()]
            calls += [self._write_call(rng, use_merge=i % 2 == 1), self._maintain_call()]
            calls += [reads[j] for j in rng.permutation(len(reads))]
        return calls + [self.gate_call(g) for g in STREAM_GATES] + [self._compact_call()]

    def finish(self, space_amp: bool) -> dict:
        """Final key-set check and, with ``space_amp``, space
        amplification: bytes on disk under the table over the bytes of its
        live rows written once."""
        keys = self.table.read().select("o_orderkey").toPandas()["o_orderkey"]
        ok = len(keys) == len(self.state) and set(keys.tolist()) == set(self.state.index.tolist())
        if not ok:
            print("# maintenance_writes: final key set differs from the applied deltas", file=sys.stderr)
        out = {"failed": 0 if ok else 1}
        if space_amp:
            live = os.path.join(os.path.dirname(self.path), "live_copy")
            self.table.read().write.mode("overwrite").parquet(live)
            out["space_amp"] = _du(self.path) / max(_du(live), 1)
        return out


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def make(name: str, spark, sf_dir: str, work_dir: str) -> GateWorkload:
    if name == "reads_interactive":
        return GateWorkload(spark, sf_dir, READ_GATES, round_s=4.0)
    if name == "corpus_pipelines":
        return GateWorkload(spark, sf_dir, CORPUS_GATES, round_s=9.0)
    if name == "maintenance_writes":
        return MaintenanceWorkload(spark, sf_dir, work_dir)
    raise KeyError(name)
