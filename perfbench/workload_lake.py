"""``lake``: writes beside reads on a snapshot lake partitioned by ship
year, seeded from the sf0.1 ``lineitem``.

Each seeded cycle: append a 30k-row batch, pruned delete of an
order-key range, update of a range that covers the deleted one, branch
create/append/publish of a 10k-row batch, a pruned ``lake_scan``
aggregate over one ship year, a time-travel aggregate at the version
before the cycle, then ``optimize_clustered`` (small-file compaction)
and ``vacuum_lake``, which keep the file count bounded. The lake is
rebuilt from the seed in every run.

Checks run outside the timed window, against a model of the live rows
kept here in numpy: after every timed write the live row count and
quantity sum, and for every timed read its count and quantity sum. A
write whose check fails is a failed operation, and the model is then
reloaded from the lake, so the next operations are judged on their own.

The delete rewrites its boundary files (``use_dv=False``). Deletion
vectors are keyed by file basename, and basenames collide across the
partition directories of this lake, so a DV delete here masks rows in
other partitions too (``tests/test_deletion_vectors.py::
test_dv_on_hive_partitioned_lake``); a workload whose outputs are wrong
cannot gate a speed-up, so the DV path joins the cycle once that is
fixed.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

BATCH_ROWS = 30_000
BRANCH_ROWS = 10_000
KEEP_VERSIONS = 6
# compaction merges files under this many rows, so the small files that
# appends, branch publishes and rewrites leave do not pile up
COMPACT_ROWS = 50_000
# nominal seconds of timed work per cycle (4-8 s on 4 cores, with the
# host): a run at --seconds 10 times two cycles
CYCLE_SECONDS = 5
WRITES = ("append", "delete", "update", "publish_branch", "optimize", "vacuum")
READS = ("scan", "time_travel")


@dataclass
class Model:
    key: np.ndarray
    year: np.ndarray
    qty: np.ndarray
    history: dict = field(default_factory=dict)  # version -> (count, qty sum)

    @classmethod
    def of(cls, df) -> "Model":
        m = cls(*[np.empty(0)] * 3)
        m.reload(df)
        return m

    def add(self, table) -> None:
        self.key = np.concatenate([self.key, table["l_orderkey"].to_numpy()])
        self.year = np.concatenate([self.year, table["ship_year"].to_numpy()])
        self.qty = np.concatenate([self.qty, table["l_quantity"].to_numpy()])

    def in_range(self, lo: int, hi: int) -> np.ndarray:
        return (self.key >= lo) & (self.key <= hi)

    def agg(self, mask=None) -> tuple[int, float]:
        q = self.qty if mask is None else self.qty[mask]
        return len(q), float(q.sum())

    def reload(self, df) -> None:
        """Take the live rows of ``df`` as the model."""
        pdf = df.select("l_orderkey", "ship_year", "l_quantity").toPandas()
        self.key = pdf["l_orderkey"].to_numpy()
        self.year = pdf["ship_year"].to_numpy()
        self.qty = pdf["l_quantity"].to_numpy()


@dataclass
class Fixture:
    spark: object
    path: str
    seed_keys: int  # the seed's order keys are [0, seed_keys)
    max_key: int  # the next fresh order key
    model: Model | None = None
    branches: int = 0
    skips: list = field(default_factory=list)  # (files skipped, files total) per scan


def setup(spark, data: str, fx_dir: str, tracer) -> Fixture:
    import datagen
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import load_table, register_lake_table
    from mlb_data_pipeline_spark.operators.snapshots import lake_write

    path = os.path.join(fx_dir, "lake")
    li = load_table(spark, data, "lineitem").withColumn(datagen.LAKE_PARTITION, F.year("l_shipdate").cast("int"))
    with tracer.span("fixture.snapshots.lake_write_seed"):
        lake_write(spark, li, path, mode="overwrite", partition_by=[datagen.LAKE_PARTITION])
    register_lake_table(spark, "lake", path)
    keys = pq.read_table(os.path.join(data, "lineitem.parquet"), columns=["l_orderkey"])["l_orderkey"]
    n = pc.max(keys).as_py() + 1
    return Fixture(spark, path, n, n)


def live_agg(spark, df) -> tuple[int, float]:
    from pyspark.sql import functions as F

    row = df.agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q")).collect()[0]
    return int(row.n), float(row.q or 0.0)


def same(a: tuple[int, float], b: tuple[int, float]) -> bool:
    return a[0] == b[0] and abs(a[1] - b[1]) <= 1e-6 * max(1.0, abs(b[1]))


class Plan:
    """Cycles of lake ops. Each call to ``ops`` continues with the next
    cycles, because the lake carries its state from one loop to the next."""

    def __init__(self, fx: Fixture, seed: int, n_cycles: int, stream: int = 0):
        import datagen

        self.fx, self.n, self.next = fx, n_cycles, 0
        self.cycles = datagen.lake_cycles(seed, 2 * n_cycles, fx.seed_keys, fx.max_key, BATCH_ROWS, BRANCH_ROWS, stream)
        fx.max_key = self.cycles[-1]["hi"]

    def ops(self, tr) -> list:
        out = []
        for c in self.cycles[self.next:self.next + self.n]:
            out += self.cycle(c, tr)
        self.next += self.n
        return out

    def cycle(self, c: dict, tr) -> list:
        from mlb_data_pipeline_spark.catalog import lake_explain, lake_scan
        from mlb_data_pipeline_spark.operators.layout import optimize_clustered
        from mlb_data_pipeline_spark.operators.snapshots import (
            current_version, lake_branch_append, lake_branch_create, lake_delete,
            lake_publish_branch, lake_update, lake_write, read_snapshot, vacuum_lake,
        )

        fx, m, spark, path = self.fx, self.fx.model, self.fx.spark, self.fx.path
        batch = spark.createDataFrame(c["batch"].to_pandas())
        branch = spark.createDataFrame(c["branch"].to_pandas())
        year = c["year"]
        d_lo, d_hi = c["delete"]
        u_lo, u_hi = c["update"]
        fx.branches += 1
        name = f"b{fx.branches}"
        start = {}

        def live_ok(_=None) -> bool:
            live = read_snapshot(spark, path)
            ok = same(live_agg(spark, live), m.agg())
            if not ok:
                m.reload(live)
            m.history[current_version(path)] = m.agg()
            return ok

        def append():
            start["v"] = current_version(path)
            with tr.span("exec.snapshots.lake_write"):
                return lake_write(spark, batch, path)

        def check_append(_):
            m.add(c["batch"])
            return live_ok()

        def delete():
            with tr.span("exec.snapshots.lake_delete"):
                return lake_delete(spark, path, f"l_orderkey BETWEEN {d_lo} AND {d_hi}")

        def check_delete(res):
            hit = m.in_range(d_lo, d_hi)
            expect = int(hit.sum())
            m.key, m.year, m.qty = m.key[~hit], m.year[~hit], m.qty[~hit]
            return live_ok() and res["rows_deleted"] == expect

        def update():
            with tr.span("exec.snapshots.lake_update"):
                return lake_update(spark, path, {"l_quantity": "l_quantity + 1"}, f"l_orderkey BETWEEN {u_lo} AND {u_hi}")

        def check_update(_):
            m.qty = np.where(m.in_range(u_lo, u_hi), m.qty + 1.0, m.qty)
            return live_ok()

        def publish():
            with tr.span("exec.snapshots.lake_publish_branch"):
                lake_branch_create(path, name)
                lake_branch_append(spark, path, name, branch)
                return lake_publish_branch(path, name, spark=spark)

        def check_publish(_):
            m.add(c["branch"])
            return live_ok()

        pred = f"ship_year = {year}"

        def scan():
            with tr.span("plan.catalog.lake_scan"):
                df = lake_scan(spark, "lake", pred)
            with tr.span("exec.catalog.lake_scan"):
                return live_agg(spark, df)

        def check_scan(got):
            ex = lake_explain(spark, "lake", pred)
            fx.skips.append((ex["files_skipped"], ex["files_total"]))
            return same(got, m.agg(m.year == year))

        def time_travel():
            with tr.span("plan.snapshots.read_snapshot"):
                df = read_snapshot(spark, path, version=start["v"])
            with tr.span("exec.snapshots.read_snapshot"):
                return live_agg(spark, df)

        def optimize():
            with tr.span("exec.layout.optimize_clustered"):
                return optimize_clustered(spark, path, [("l_orderkey", 0, c["hi"])], max_span_frac=1.0, min_rows=COMPACT_ROWS)

        def vacuum():
            with tr.span("exec.snapshots.vacuum_lake"):
                return vacuum_lake(path, keep_last=KEEP_VERSIONS, orphan_grace_s=0.0)

        return [
            ("append", append, check_append),
            ("delete", delete, check_delete),
            ("update", update, check_update),
            ("publish_branch", publish, check_publish),
            ("scan", scan, check_scan),
            ("time_travel", time_travel, lambda got: same(got, m.history.get(start["v"], (-1, 0.0)))),
            ("optimize", optimize, live_ok),
            ("vacuum", vacuum, live_ok),
        ]


def warmup_ops(fx: Fixture) -> list:
    """One cycle, from its own stream (the same in every run, so the
    timed cycles are a function of the run's seed alone). Its outputs
    are not checked: the model starts from the lake the warm-up left."""
    from tracing import Tracer

    return [(kind, fn, lambda _: True) for kind, fn, _ in Plan(fx, seed=0, n_cycles=1, stream=1).ops(Tracer())]


def plan(fx: Fixture, seed: int, seconds: int) -> Plan:
    from mlb_data_pipeline_spark.operators.snapshots import current_version, read_snapshot

    fx.model = Model.of(read_snapshot(fx.spark, fx.path))
    fx.model.history[current_version(fx.path)] = fx.model.agg()
    return Plan(fx, seed, max(1, round(seconds / CYCLE_SECONDS)))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for d, _, fs in os.walk(path) if "_snapshots" not in d for f in fs)


def finish(fx: Fixture) -> dict:
    """Space amplification: bytes under the lake directory over the bytes
    of its live rows written once, by the same writer, to a fresh lake."""
    from mlb_data_pipeline_spark.operators.snapshots import lake_write, read_snapshot

    once = fx.path + "-once"
    lake_write(fx.spark, read_snapshot(fx.spark, fx.path), once, mode="overwrite", partition_by=["ship_year"])
    return {"space_amp": dir_bytes(fx.path) / dir_bytes(once), "files_live": data_files(fx.path)}


def _p50(loop, kinds) -> float:
    return statistics.median(x for k in kinds for x in loop.latency.get(k, []))


def summary(r: dict) -> dict:
    return {
        "write_p50_s": (_p50(r["loop"], WRITES), "s"),
        "read_p50_s": (_p50(r["loop"], READS), "s"),
        "space_amp": (r["finish"]["space_amp"], "ratio"),
    }


def detail(r: dict) -> dict:
    """Per-function layer figures of a traced run."""
    tr, work, fx = r["tracer"], r["traced"].work, r["fx"]
    out = {"snapshots.lake_write_seed_s": (tr.median("fixture.snapshots.lake_write_seed"), "s")}
    for fn in ("snapshots.lake_write", "snapshots.lake_delete", "snapshots.lake_update",
               "snapshots.lake_publish_branch", "layout.optimize_clustered", "snapshots.vacuum_lake"):
        out[f"{fn}_s"] = (tr.median(f"exec.{fn}"), "s")
    for fn in ("catalog.lake_scan", "snapshots.read_snapshot"):
        out[f"{fn}_s"] = (statistics.median(a + b for a, b in zip(tr.durations(f"plan.{fn}"), tr.durations(f"exec.{fn}"))), "s")
    total = sum(t for _, t in fx.skips)
    out["catalog.files_skipped_share"] = (sum(s for s, _ in fx.skips) / total if total else None, "share")
    out["lake.files_live"] = (r["finish"]["files_live"], "count")
    for kind, ws in work.items():
        out[f"spark.jobs.{kind}"] = (statistics.median(w.jobs for w in ws), "count")
    return out
