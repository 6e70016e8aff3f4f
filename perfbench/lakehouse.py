"""The ``lakehouse_commits`` workload: seeded commits and reads on a txlog
table, checked against DuckDB replaying the same DML.

Set-up lands ``orders`` as a txlog table (range-clustered on ``o_orderkey``,
with min/max stats and a bloom filter on it) and writes one landing batch
pair per round. Each round then commits, in seeded order: an append of a
landing batch (read through ``sources.io.read_parquet``), a copy-on-write
``merge_into`` of a key band, a stats-pruned ``delete_where`` and a
``delete_where_dv``, and then an ``optimize`` that compacts the round's
small files. A read follows each commit: every round makes two
``read_pruned``, two ``read_point`` and one ``read_mor``, in seeded order. The txlog writes its
automatic checkpoint every tenth commit.

Deletion vectors only ever touch rows with ``o_orderkey % 10 = 3``; the
plain (non-merge-on-read) ``read_pruned`` and ``read_point`` reads exclude
those keys, so every read has a single correct answer.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DV_MOD = "o_orderkey % 10 = 3"
# orders rows with these keys are held back from the landed table, so a
# merge of a key band both updates and inserts while touching only the
# files that cover the band
HELD_BACK = "o_orderkey % 10 = 9"
APPEND_ROWS = 400
MERGE_KEYS = 300

COMMITS = ["append", "merge_into", "delete_where", "delete_where_dv"]
# one read after each of a round's five commits; a fixed mix, so that
# rounds of every seed make the same reads
READS = ["read_pruned", "read_pruned", "read_point", "read_point", "read_mor"]


def plan_rounds(landing_dir: str, seed: int, rounds: int, max_key: int) -> list[dict]:
    """Write each round's landing batches and return the round specs (op
    order, key bands, landing paths). ``max_key`` is the largest
    ``o_orderkey`` of the input; appends land keys above it. A pure function
    of its arguments."""
    os.makedirs(landing_dir, exist_ok=True)
    n_orders = max_key + 1
    width = max(40, n_orders // 100)
    specs = []
    for r in range(rounds):
        rng = np.random.default_rng([seed, r])
        # maintenance closes the round, so it always has the round's
        # small files to compact
        commits = [COMMITS[i] for i in rng.permutation(len(COMMITS))] + ["optimize"]
        reads = [READS[i] for i in rng.permutation(len(READS))]
        append_keys = n_orders + r * APPEND_ROWS + np.arange(APPEND_ROWS)
        merge_keys = int(rng.integers(0, n_orders - MERGE_KEYS)) + np.arange(MERGE_KEYS)
        paths = {}
        for kind, keys in (("append", append_keys), ("merge", merge_keys)):
            n = len(keys)
            t = pa.table(
                {
                    "o_orderkey": pa.array(keys, pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, 1500, n), pa.int64()),
                    "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
                    "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist()),
                }
            )
            paths[kind] = os.path.join(landing_dir, f"r{r:03d}_{kind}.parquet")
            pq.write_table(t, paths[kind], compression="snappy")
        band = lambda: int(rng.integers(0, n_orders - width))  # noqa: E731
        point = int(rng.integers(0, n_orders))
        specs.append(
            {
                "round": r,
                "commits": commits,
                "reads": reads,
                "append_path": paths["append"],
                "merge_path": paths["merge"],
                "delete_lo": band(),
                "dv_lo": band(),
                "read_lo": band(),
                "point_key": point if point % 10 != 3 else point + 1,
                "width": width,
            }
        )
    return specs


def landing_bytes(spec: dict) -> int:
    return os.path.getsize(spec["append_path"]) + os.path.getsize(spec["merge_path"])


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Lakehouse:
    """One txlog table plus its DuckDB mirror."""

    _COLS = [
        "o_orderkey", "o_custkey", "round(o_totalprice, 2) AS o_totalprice", "o_orderstatus"
    ]

    def __init__(self, spark, sf_dir: str, root: str) -> None:
        from pyspark.sql import functions as F

        from datalake_brief_spark.sources import io, txlog

        self.spark, self.F, self.io, self.txlog = spark, F, io, txlog
        self.path = os.path.join(root, "orders_txlog")
        self.orders = os.path.join(sf_dir, "orders.parquet")
        base = (
            io.read_parquet(spark, self.orders)
            .filter(f"NOT ({HELD_BACK})")
            .selectExpr(*self._COLS)
        )
        txlog.append(
            base.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
            self.path,
            stats_cols=["o_orderkey"],
            bloom_cols=["o_orderkey"],
        )
        self.db = None
        self.version = txlog.current_version(self.path)
        # optimize compacts files below half this size: the appended and
        # inserted slivers, never the eight clustered base files
        live = txlog.visible_files(self.path)
        self.target_file_bytes = 3 * sum(map(os.path.getsize, live)) // (2 * len(live))

    def open_mirror(self) -> None:
        """Load the landed rows into DuckDB, the oracle every commit is
        replayed on."""
        import duckdb

        self.db = duckdb.connect()
        self.db.execute(
            f"CREATE TABLE t AS SELECT {', '.join(self._COLS)} "
            f"FROM read_parquet('{self.orders}') WHERE NOT ({HELD_BACK})"
        )

    def close(self) -> None:
        if self.db is not None:
            self.db.close()

    # -- commits: (timed action, oracle replay) --------------------------

    def commit(self, kind: str, spec: dict):
        """Return ``(run, replay)``: ``run`` performs the commit through the
        engine and returns the new version; ``replay`` applies the same DML
        to the DuckDB mirror and returns how many rows it touched."""
        F, txlog, spark, path = self.F, self.txlog, self.spark, self.path
        w = spec["width"]
        if kind == "append":
            src = spec["append_path"]
            return (
                lambda: txlog.append(
                    self.io.read_parquet(spark, src), path,
                    stats_cols=["o_orderkey"], bloom_cols=["o_orderkey"],
                ),
                lambda: self._dml(f"INSERT INTO t SELECT * FROM read_parquet('{src}')"),
            )
        if kind == "merge_into":
            src = spec["merge_path"]
            return (
                lambda: txlog.merge_into(
                    spark, path, self.io.read_parquet(spark, src),
                    keys=["o_orderkey"], when_matched=[("update", "*")],
                ),
                lambda: self._merge(src),
            )
        if kind == "delete_where":
            lo = spec["delete_lo"]
            pred = f"o_orderkey >= {lo} AND o_orderkey < {lo + w} AND o_custkey % 7 = 0"
            return (
                lambda: txlog.delete_where(
                    spark, path, pred, prune_col="o_orderkey", lo=lo, hi=lo + w - 1
                ),
                lambda: self._dml(f"DELETE FROM t WHERE {pred}"),
            )
        if kind == "delete_where_dv":
            lo = spec["dv_lo"]
            pred = f"o_orderkey >= {lo} AND o_orderkey < {lo + w} AND {DV_MOD}"
            return (
                lambda: txlog.delete_where_dv(
                    spark, path, F.expr(pred), prune_col="o_orderkey", lo=lo, hi=lo + w - 1
                ),
                lambda: self._dml(f"DELETE FROM t WHERE {pred}"),
            )
        if kind == "optimize":
            return (
                lambda: txlog.optimize(spark, path, target_file_bytes=self.target_file_bytes),
                lambda: None,
            )
        raise ValueError(kind)

    def _dml(self, sql: str) -> int:
        return self.db.execute(sql).fetchone()[0]

    def _merge(self, src: str) -> int:
        n = self._dml(
            "UPDATE t SET o_custkey = s.o_custkey, o_totalprice = s.o_totalprice, "
            f"o_orderstatus = s.o_orderstatus FROM read_parquet('{src}') s "
            "WHERE t.o_orderkey = s.o_orderkey"
        )
        return n + self._dml(
            f"INSERT INTO t SELECT * FROM read_parquet('{src}') "
            "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
        )

    def check_commit(self, kind: str, new_version: int, touched) -> str | None:
        """A commit that changes rows must land exactly one new version; one
        that matches nothing must not commit."""
        prev, self.version = self.version, int(new_version)
        if kind == "optimize":
            ok = self.version in (prev, prev + 1)
        else:
            ok = self.version == prev + (1 if touched else 0)
        return None if ok else f"version {prev} -> {self.version}, oracle touched {touched} rows"

    # -- reads: (timed action returning a DataFrame, oracle SQL) ---------

    _AGG = [
        "count(*) AS n",
        "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents",
        "sum(o_custkey) AS custs",
        "max(o_orderkey) AS max_key",
    ]

    def read(self, kind: str, spec: dict):
        txlog, spark, path = self.txlog, self.spark, self.path
        if kind == "read_pruned":
            lo, hi = spec["read_lo"], spec["read_lo"] + 4 * spec["width"]
            return (
                lambda: txlog.read_pruned(spark, path, "o_orderkey", lo, hi)
                .filter(f"NOT ({DV_MOD})")
                .selectExpr(*self._AGG),
                f"SELECT {', '.join(self._AGG)} FROM t WHERE o_orderkey BETWEEN {lo} AND {hi} "
                f"AND NOT ({DV_MOD})",
            )
        if kind == "read_point":
            key = spec["point_key"]
            cols = "o_orderkey, o_custkey, o_totalprice, o_orderstatus"
            return (
                lambda: txlog.read_point(spark, path, "o_orderkey", key).selectExpr(
                    *cols.split(", ")
                ),
                f"SELECT {cols} FROM t WHERE o_orderkey = {key}",
            )
        if kind == "read_mor":
            return (
                lambda: txlog.read_mor(spark, path).selectExpr(*self._AGG),
                f"SELECT {', '.join(self._AGG)} FROM t",
            )
        raise ValueError(kind)

    def expected(self, sql: str):
        cur = self.db.execute(sql)
        return cur.fetchall(), [d[0] for d in cur.description]

    def snapshot(self):
        """The final merge-on-read snapshot and its oracle."""
        return (
            lambda: self.txlog.read_mor(self.spark, self.path).select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
            ),
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM t",
        )

    def layer_state(self) -> dict[str, int]:
        """Live files, checkpoints and bytes under the table root."""
        log_dir = os.path.join(self.path, "_txlog")
        log_bytes = dir_bytes(log_dir) if os.path.isdir(log_dir) else 0
        ckpts = (
            sum(1 for f in os.listdir(log_dir) if "checkpoint" in f)
            if os.path.isdir(log_dir) else 0
        )
        live = self.txlog.visible_files(self.path)
        return {
            "files_live": len(live),
            "live_bytes": sum(os.path.getsize(f) for f in live),
            "checkpoints": ckpts,
            "log_bytes": log_bytes,
            "total_bytes": dir_bytes(self.path),
            "live_set": set(live),
        }
