"""The benchmark's workloads: what one item does and how it is checked.

An item is one closed-loop request. ``loops`` items are registry
queries (plan build, then ``collect``); ``aria_ycsb`` items are Aria
batches (generate, ``run_batch``, count the installed table). Every
item's output is kept and checked after the timed region:

* ``loops`` against the query's DuckDB ``oracle_sql()`` over the same
  parquet inputs, order-insensitively, in the canonical row form of
  ``tests/oracle_utils.py``;
* ``aria_ycsb`` against a serial replay by the oracle of
  ``tests/test_aria.py``: the final table digest (a sum of per-row
  CRC-32s) and the committed count.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import zlib
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Iterative operators; plan build runs most of their Spark jobs.
LOOP_QUERIES = (
    "graph_kcore",
    "graph_label_propagation",
    "graph_shortest_hops",
    "dedup_clusters",
    "dedup_keep_best_quality",
    "aria_run_batch",
)

# The reference YCSB configuration (BASELINE.md).
KV_ROWS = 200_000
BATCH_TXNS = 150
MAX_OPS = 30
KEYS_MAX = 20_000
WRITE_RATE = 0.4
YCSB_ITEM = "ycsb_batch"
YCSB_PASS = 5  # batches per pass


@dataclass
class Outcome:
    """One executed item."""

    name: str
    seq: int
    latency_s: float = 0.0
    committed: int = 0
    output: object = None
    error: str | None = None
    groups: dict[str, str] = field(default_factory=dict)  # phase kind -> job group
    spans: list[dict] = field(default_factory=list)
    jobs: dict[str, int] = field(default_factory=dict)  # phase kind -> jobs (traced runs)
    exec_detail: dict[str, int] = field(default_factory=dict)  # stages, tasks, shuffle bytes


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def serial_replay(ops: list[tuple], reorder: bool) -> dict:
    """Replay ``ops`` with the serial-order oracle of ``tests/test_aria.py``.

    ``ops`` rows are (txn_id, op_idx, key, is_update). Returns the
    written values (key -> value), the committed count and the number
    of transaction executions: every epoch executes the transactions
    that earlier epochs left uncommitted.
    """
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from test_aria import serial_oracle

    writes, per_epoch = serial_oracle({}, ops, reorder, max_epochs=len(ops) + 1)
    n_txns = len({t for t, _, _, _ in ops})
    left, executions = n_txns, 0
    for c in per_epoch:
        executions += left
        left -= c
    return {"writes": writes, "committed": n_txns - left, "n_txns": n_txns,
            "executions": executions}


def _row_digest(key: int, value: str) -> int:
    # Spark: crc32(concat_ws(':', key, value)), summed over the table
    return zlib.crc32(f"{key}:{value}".encode())


class Loops:
    """Iterative registry queries over seeded parquet inputs."""

    name = "loops"

    def __init__(self, inputs_dir: str, seed: int) -> None:
        self.inputs_dir = inputs_dir
        self.queries: dict = {}

    def prepare(self, spark) -> None:
        from gpu_database_spark import registry

        self.queries = registry.queries()

    def warm_item(self) -> tuple[str, tuple]:
        return "dedup_clusters", ()

    def pass_items(self) -> list[tuple[str, tuple]]:
        return [(q, ()) for q in LOOP_QUERIES]

    def run(self, ctx, name: str) -> Outcome:
        fn = self.queries[name]
        with ctx.phase("build", "registry.build"):
            df = fn(ctx.spark, self.inputs_dir)
        with ctx.phase("exec", "exec.collect"):
            rows = [tuple(r) for r in df.collect()]
        out = Outcome(name, ctx.seq, output=(df.columns, rows))
        if name == "aria_run_batch" and rows:
            out.committed = rows[0][df.columns.index("n_committed")]
        return out

    def check(self, outcomes: list[Outcome]) -> dict[int, str]:
        """seq -> reason, for every output that differs from its oracle."""
        import duckdb

        tests = os.path.join(ROOT, "tests")
        if tests not in sys.path:
            sys.path.insert(0, tests)
        from oracle_utils import canon

        from gpu_database_spark import registry

        oracle = registry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in ("lineitem", "documents"):
            path = os.path.join(self.inputs_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        bad = {}
        for o in outcomes:
            if o.error is not None:
                continue
            if o.name not in expected:
                cur = con.execute(oracle[o.name])
                expected[o.name] = canon([d[0] for d in cur.description], cur.fetchall())
            if canon(*o.output) != expected[o.name]:
                bad[o.seq] = f"{o.name}: rows differ from the DuckDB oracle"
        con.close()
        return bad

    def replays(self, outcomes: list[Outcome]) -> list[dict]:
        """Serial replay of each timed ``aria_run_batch`` batch (reorder mode)."""
        n = sum(o.name == "aria_run_batch" for o in outcomes)
        if not n:
            return []
        import pyarrow.parquet as pq

        li = pq.read_table(
            os.path.join(self.inputs_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_linenumber", "l_partkey", "l_quantity"],
        ).to_pydict()
        ops = [
            (t, op, p % 211 + 1, q >= 30)
            for t, op, p, q in zip(
                li["l_orderkey"], li["l_linenumber"], li["l_partkey"], li["l_quantity"]
            )
            if t <= 3000
        ]
        return [serial_replay(ops, reorder=True)] * n


class AriaYcsb:
    """The reference YCSB workload as back-to-back Aria batches, each
    against the same cached 200k-row KV preload."""

    name = "aria_ycsb"

    def __init__(self, inputs_dir: str, seed: int) -> None:
        self.seed = seed
        self._seeds = random.Random(seed)
        self.table = None
        self._ops: dict[int, list[tuple]] = {}
        self._base_digest: int | None = None

    def prepare(self, spark) -> None:
        from gpu_database_spark import gen

        self.table = gen.kv_table_distributed(spark, KV_ROWS, seed=self.seed).cache()
        self.table.count()

    def warm_item(self) -> tuple[str, tuple]:
        return YCSB_ITEM, (self._next_seed(),)

    def pass_items(self) -> list[tuple[str, tuple]]:
        return [self.warm_item() for _ in range(YCSB_PASS)]

    def _next_seed(self) -> int:
        return self._seeds.randrange(1, 2**31)

    def run(self, ctx, name: str, batch_seed: int) -> Outcome:
        from gpu_database_spark import gen
        from gpu_database_spark.operators import aria

        with ctx.phase("gen"):
            ops = gen.transactions(
                ctx.spark, BATCH_TXNS, MAX_OPS, KEYS_MAX, WRITE_RATE, seed=batch_seed
            )
        with ctx.phase("aria"):
            result = aria.run_batch(self.table, ops)
        with ctx.phase("exec", "aria.install"):
            n_rows = result.table.count()
        out = Outcome(name, ctx.seq, committed=len(result.commit_order))
        out.output = (batch_seed, n_rows, result.table)
        return out

    def _ops_of(self, batch_seed: int) -> list[tuple]:
        from gpu_database_spark import gen

        if batch_seed not in self._ops:
            self._ops[batch_seed] = gen.transactions_local(
                BATCH_TXNS, MAX_OPS, KEYS_MAX, WRITE_RATE, seed=batch_seed
            )
        return self._ops[batch_seed]

    def _preload_value(self, key: int) -> str:
        return _md5(f"{self.seed}:{key}")

    def check(self, outcomes: list[Outcome]) -> dict[int, str]:
        from functools import reduce

        from pyspark.sql import functions as F

        done = [o for o in outcomes if o.error is None]
        if not done:
            return {}
        if self._base_digest is None:
            self._base_digest = sum(
                _row_digest(k, self._preload_value(k)) for k in range(1, KV_ROWS + 1)
            )
        # One Spark job digests every batch's installed table.
        tables = [
            o.output[2].select(
                F.lit(o.seq).alias("seq"),
                F.crc32(F.concat_ws(":", "key", "value")).alias("h"),
            )
            for o in done
        ]
        got = {
            r.seq: (r.n, r.h)
            for r in reduce(lambda a, b: a.unionAll(b), tables)
            .groupBy("seq")
            .agg(F.count("*").alias("n"), F.sum("h").alias("h"))
            .collect()
        }
        bad = {}
        for o in done:
            batch_seed, n_rows, _ = o.output
            rep = serial_replay(self._ops_of(batch_seed), reorder=False)
            want = self._base_digest + sum(
                _row_digest(k, v) - _row_digest(k, self._preload_value(k))
                for k, v in rep["writes"].items()
            )
            if n_rows != KV_ROWS or got.get(o.seq) != (KV_ROWS, want):
                bad[o.seq] = f"batch seed {batch_seed}: final table differs from the serial replay"
            elif o.committed != rep["committed"] or rep["committed"] != rep["n_txns"]:
                bad[o.seq] = f"batch seed {batch_seed}: committed count differs from the serial replay"
        return bad

    def replays(self, outcomes: list[Outcome]) -> list[dict]:
        return [serial_replay(self._ops_of(o.output[0]), reorder=False) for o in outcomes]


WORKLOADS = {w.name: w for w in (Loops, AriaYcsb)}
