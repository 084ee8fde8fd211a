"""The three benchmark workloads, driven through dff's public API.

Each workload generates its fixtures with ``dff.sources`` from the seed,
then runs a closed loop of operations with one client.  ``step`` performs
one operation that validates new input and, outside warm-up, re-submits
input that is already checkpointed; ``check`` compares every operation's
outputs with the planted tags after the loop (see gate.py).

Under a real :class:`spans.Tracer`, every call into dff is wrapped in a
span, and ``ValidationRunner.run`` is replayed through the public calls it
makes, in the same order, so Spark jobs are attributed to the layer that
launched them.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

import gate
from dff.checkpoint import (
    CheckpointStore,
    TableCheckpointStore,
    ViolationsSink,
    plan_pending,
)
from dff.compiler import compile_ruleset
from dff.drift import CategoricalBins, DriftSpec, snapshot
from dff.ruleset import parse_json
from dff.runner import ReferentialCheck, ValidationConfig, ValidationRunner
from dff.sources import ALLOWED_LANGS, commits_dim, synthetic_source_files
from dff.stats import column_stats
from dff.statsvalidate import StatsRule, plan_stats_validation, validate_table_stats
from dff.tablefmt import Table

RULESET = {
    "version": "dag-v1",
    "sensitivity": 0.7,
    "rules": [
        {"id": "C_null_lang", "name": "lang is null", "requires": []},
        {"id": "C_empty", "name": "length(content) = 0", "requires": ["C_null_lang"]},
        {"id": "C_huge", "name": "length(content) > 10485760", "requires": ["C_empty"]},
    ],
}
N_PARTS = 16
N_REPOS = 1000
PART = "part_id"
#: partitions that carry planted violations; the others are generated clean
DIRTY_PARTS = sorted(range(0, N_PARTS, 2))

STATS_RULES = [
    StatsRule("S_lang_not_null", "lang", "not_null"),
    StatsRule("S_part_range", PART, "between", 0, N_PARTS - 1),
    StatsRule("S_row_id", "row_id", ">=", 0),
]
CHECK_EXPR = "part_id >= 0 AND row_id >= 0"

#: Fixture sizes.  ``tiny`` is for the smoke test only.
SCALES = {
    "full": {"bulk_rows": 150_000, "batch_rows": 20_000, "batches": 4,
             "delta_rows": 20_000, "deltas": 4, "baseline_rows": 20_000},
    "tiny": {"bulk_rows": 6_000, "batch_rows": 3_000, "batches": 2,
             "delta_rows": 3_000, "deltas": 2, "baseline_rows": 5_000},
}


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies from /proc/stat; (0, 0) where unavailable.
    Steal is CPU time the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def source_frame(spark, n: int, seed: int):
    """Skewed source table (Zipf repos, ~90% python): partitions in
    ``DIRTY_PARTS`` carry the generator's planted violations, the others
    are clean, so the gate sees both verdicts.  A repo's partition does
    not depend on the seed, so the share of planted rows is the same for
    every seed."""
    kw = dict(n_repos=N_REPOS, n_parts=N_PARTS, seed=seed, skew=True)
    planted = synthetic_source_files(spark, n, **kw).where(F.col(PART).isin(DIRTY_PARTS))
    clean = synthetic_source_files(spark, n, plant_violations=False, **kw).where(
        ~F.col(PART).isin(DIRTY_PARTS)
    )
    return planted.unionByName(clean)


class Workload:
    """Shared set-up: drift baseline, dimension table, runner factory."""

    name = ""
    #: wall of one measured step (new input + re-submissions), once warm, on
    #: the reference host (4 vCPUs, 16 GB): ``--seconds`` is converted to a
    #: step count with it
    step_s = 1.0
    #: re-submissions of already-checkpointed input after each new one in a
    #: measured step; warm-up steps submit new input only
    resumes = 2

    def __init__(self, spark, work: str, seed: int, scale: dict, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.ruleset = parse_json(RULESET)
        self.drift_spec = DriftSpec(
            categorical=[CategoricalBins("lang", tuple(ALLOWED_LANGS))]
        )
        self.ops: list[dict] = []  # every operation, warm-up included
        self.input_bytes = 0  # bytes of fixture input submitted so far
        self.fixture_rows = 0
        self.fixture_bytes = 0
        self.unplanted_dups = 0  # key collisions the generator did not tag

    # ---------------------------------------------------------- set-up
    def setup_data(self) -> None:
        """Fixtures + drift baseline (repeatable)."""
        base = synthetic_source_files(
            self.spark, self.scale["baseline_rows"], n_repos=N_REPOS, n_parts=N_PARTS,
            seed=self.seed + 7919, skew=True, plant_violations=False,
        )
        self.baseline = snapshot(base, self.drift_spec)
        self.make_fixtures()

    def make_fixtures(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time state after the fixtures exist: the dimension table,
        expected outcomes, stores."""
        path = f"{self.work}/dim_commits"
        commits_dim(self.spark, N_REPOS).write.mode("overwrite").parquet(path)
        self.dim = self.spark.read.parquet(path)

    def runner(self, snapshot_id: str) -> ValidationRunner:
        return ValidationRunner(
            ValidationConfig(
                ruleset=self.ruleset,
                referential=[
                    ReferentialCheck(
                        self.dim, ["repo", "commit"], "C_ref_commit",
                        dim_is_distinct=True,
                    )
                ],
                drift_spec=self.drift_spec,
                drift_baseline=self.baseline,
                snapshot_id=snapshot_id,
            )
        )

    def _batch_fixtures(self, path: str, n_batches: int, rows: int) -> None:
        """``n_batches`` drops of ~``rows`` rows, one parquet directory
        each (``path/batch=<k>``), written by one Spark job.  Planted
        duplicate copies (``row_id >= n``) stay in their original's drop."""
        n = n_batches * rows
        df = source_frame(self.spark, n, self.seed)
        batch = (F.pmod(F.col("row_id"), F.lit(n)) / rows).cast("int")
        df.withColumn("batch", batch).write.mode("overwrite").partitionBy(
            "batch"
        ).parquet(path)
        self.n_gen = n
        self.batch_dirs = [f"{path}/batch={k}" for k in range(n_batches)]
        self.batch_bytes = [dir_bytes(d) for d in self.batch_dirs]
        self.fixture_bytes = sum(self.batch_bytes)

    def _expected_batches(self, path: str) -> None:
        exp = gate.expected_by_partition(
            self.spark.read.parquet(path), "batch", self.n_gen
        )
        self.expected = [
            {p: v for (b, p), v in exp.items() if b == k}
            for k in range(len(self.batch_dirs))
        ]
        self.fixture_rows = sum(gate.total(per, "rows") for per in self.expected)
        self.unplanted_dups = sum(
            gate.unplanted_duplicates(per) for per in self.expected
        )

    # ------------------------------------------------------- run() replay
    def run_batch(self, runner, df, store, violations_path=None):
        """``runner.run(...)``; under a tracer, the same public calls in
        the same order, each in its own span."""
        if not self.tr.enabled:
            return runner.run(df, store, violations_path=violations_path)
        cfg = runner.config
        with self.tr.span("checkpoint.plan_pending"):
            pending = plan_pending(
                df, cfg.part_col, store, cfg.snapshot_id, cfg.ruleset.version
            )
            empty = pending.limit(1).count() == 0
        if empty:
            return None
        with self.tr.span("runner.validate"):
            result = runner.validate(pending)
        if violations_path:
            with self.tr.span("checkpoint.ViolationsSink.write"):
                ViolationsSink(self.spark, violations_path, cfg.part_col).write(
                    result.violations
                )
        name = (
            "checkpoint.TableCheckpointStore.append"
            if isinstance(store, TableCheckpointStore)
            else "checkpoint.CheckpointStore.append"
        )
        with self.tr.span(name):
            store.append(
                runner.checkpoint_rows(result.partition_metrics, cfg.ruleset.version)
            )
        return result

    def compile_probe(self, df) -> None:
        """Rule compilation on its own (``validate`` compiles internally);
        traced runs only, outside the operation's span."""
        if self.tr.enabled:
            with self.tr.span("compiler.compile_ruleset"):
                compile_ruleset(self.ruleset, df)

    # ------------------------------------------------------------ loop
    def timed(self, kind: str, fn, **info) -> dict:
        op = {"kind": kind, "error": None, "raised": False, **info}
        with self.tr.span(f"op.{kind}"):
            k0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                op["out"] = fn()
            except Exception as e:  # an operation that raises is a failure
                op["error"] = f"{type(e).__name__}: {e}"
                op["raised"] = True
            op["wall"] = time.perf_counter() - t0
            k1 = cpu_ticks()
            op["steal"] = (k1[1] - k0[1]) / max(k1[0] - k0[0], 1)
        self.ops.append(op)
        return op

    def step(self, measured: bool) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Set ``op["error"]`` on every completed operation whose outputs
        mismatch."""
        raise NotImplementedError

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def rows_per_s(self, ops: list[dict]) -> float:
        """Median over new-input operations of rows / wall: a median, like
        the latencies, so one slow operation does not move it."""
        return statistics.median(
            o["rows"] / o["wall"] for o in ops if o["kind"] == self.batch_kind
        )


class BulkSnapshot(Workload):
    """One large skew-stress snapshot, validated in full each pass."""

    name = "bulk_snapshot"
    batch_kind = "pass"
    step_s = 8.5
    #: a re-submission costs a tenth of a pass, so more of them fit; the
    #: first one after warm-up is still cold
    resumes = 4

    def make_fixtures(self) -> None:
        n = self.scale["bulk_rows"]
        self.path = f"{self.work}/bulk"
        source_frame(self.spark, n, self.seed).write.mode(
            "overwrite"
        ).parquet(self.path)
        self.n_gen = n
        self.fixture_bytes = dir_bytes(self.path)

    def prepare(self) -> None:
        super().prepare()
        exp = gate.expected_by_partition(
            self.spark.read.parquet(self.path), None, self.n_gen
        )
        self.expected = {p: v for (_, p), v in exp.items()}
        self.fixture_rows = gate.total(self.expected, "rows")
        self.unplanted_dups = gate.unplanted_duplicates(self.expected)
        self.store = CheckpointStore(self.spark, f"{self.work}/ckpt")
        self.viol_path = f"{self.work}/viol"
        self.seq = 0

    def _pass(self, sid: str) -> dict:
        tr, spark = self.tr, self.spark
        df = spark.read.parquet(self.path)
        runner = self.runner(sid)
        with tr.span("stats.column_stats"):
            stats = {
                r["column"]: r for r in column_stats(df, ["repo", "lang", "content"]).collect()
            }
        with tr.span("runner.validate"):
            res = runner.validate(df)
        with tr.span("runner.violations_count"):
            n_viol = res.violations.count()
        with tr.span("runner.verdicts_write"):
            res.verdicts.write.format("noop").mode("overwrite").save()
        with tr.span("checkpoint.ViolationsSink.write"):
            ViolationsSink(spark, self.viol_path, PART).write(res.violations)
        with tr.span("runner.partition_metrics"):
            pm = res.partition_metrics.collect()
        with tr.span("checkpoint.CheckpointStore.append"):
            self.store.append(
                runner.checkpoint_rows(res.partition_metrics, self.ruleset.version)
            )
        res.unpersist()
        return {"stats": stats, "n_viol": n_viol, "pm": pm}

    def step(self, measured: bool) -> None:
        sid = f"p{self.seq}"
        self.seq += 1
        self.input_bytes += self.fixture_bytes
        self.timed("pass", lambda: self._pass(sid), snapshot=sid,
                   rows=self.fixture_rows, measured=measured)
        runner = self.runner(sid)

        def resume():
            return self.run_batch(
                runner, self.spark.read.parquet(self.path), self.store, self.viol_path
            )

        for _ in range(self.resumes if measured else 0):
            self.timed("resume", resume, snapshot=sid, rows=0, measured=measured)
        self.compile_probe(self.spark.read.parquet(self.path))

    def check(self) -> None:
        by_sid = _checkpoint_by_snapshot(self.store)
        want_viol = sum(gate.total(self.expected, c) for c in gate.CONSTRAINTS)
        for op in self.ops:
            if op["error"]:
                continue
            bad = []
            if op["kind"] == "resume":
                if op["out"] is not None:
                    bad.append("re-submitted snapshot was validated again")
            else:
                out = op["out"]
                st = out["stats"]
                if st["lang"]["rows"] != self.fixture_rows:
                    bad.append(f"column_stats rows {st['lang']['rows']}")
                if st["lang"]["null_count"] != gate.total(self.expected, "null_lang"):
                    bad.append(f"column_stats lang nulls {st['lang']['null_count']}")
                if out["n_viol"] != want_viol:
                    bad.append(f"violations {out['n_viol']} != {want_viol}")
                pm = {r[PART]: r["verdict"] for r in out["pm"]}
                for p, exp in self.expected.items():
                    want = gate.expected_verdict(exp, self.baseline["lang"])
                    if want is not None and pm.get(p) != want:
                        bad.append(f"partition_metrics part {p}: {pm.get(p)} != {want}")
                bad += gate.check_checkpoint_rows(
                    by_sid.get(op["snapshot"], []), self.expected, self.baseline["lang"]
                )
            if bad:
                op["error"] = "; ".join(bad[:5])

    def stored_bytes(self) -> int:
        return dir_bytes(self.store.path) + dir_bytes(self.viol_path)


class MicroBatches(Workload):
    """Many ~20k-row drops, each through ``ValidationRunner.run`` against
    one checkpoint store and violations sink, each followed by a replay of
    an already-checkpointed drop."""

    name = "micro_batches"
    batch_kind = "batch"
    step_s = 5.0

    def make_fixtures(self) -> None:
        self.path = f"{self.work}/drops"
        self._batch_fixtures(self.path, self.scale["batches"], self.scale["batch_rows"])

    def prepare(self) -> None:
        super().prepare()
        self._expected_batches(self.path)
        self.store = CheckpointStore(self.spark, f"{self.work}/ckpt")
        self.viol_path = f"{self.work}/viol"
        self.done: list[tuple[str, int]] = []  # (snapshot id, fixture index)
        self.rng = random.Random(self.seed)
        self.seq = 0

    def step(self, measured: bool) -> None:
        k = self.seq % len(self.batch_dirs)
        sid = f"m{self.seq}"
        self.seq += 1
        runner = self.runner(sid)
        self.input_bytes += self.batch_bytes[k]

        def new():
            res = self.run_batch(
                runner, self.spark.read.parquet(self.batch_dirs[k]),
                self.store, self.viol_path,
            )
            if res is not None:
                res.unpersist()
            return res is not None

        op = self.timed("batch", new, snapshot=sid, fixture=k,
                        rows=gate.total(self.expected[k], "rows"), measured=measured)
        if not op["error"]:
            self.done.append((sid, k))
        for _ in range(self.resumes if measured and self.done else 0):
            rsid, rk = self.rng.choice(self.done)
            rrunner = self.runner(rsid)
            self.timed(
                "resume",
                lambda: self.run_batch(
                    rrunner, self.spark.read.parquet(self.batch_dirs[rk]),
                    self.store, self.viol_path,
                ),
                snapshot=rsid, rows=0, measured=measured,
            )
        self.compile_probe(self.spark.read.parquet(self.batch_dirs[k]))

    def check(self) -> None:
        by_sid = _checkpoint_by_snapshot(self.store)
        for op in self.ops:
            if op["error"]:
                continue
            if op["kind"] == "resume":
                bad = [] if op["out"] is None else ["replayed drop was validated again"]
            else:
                bad = [] if op["out"] else ["run() returned None for a new drop"]
                bad += gate.check_checkpoint_rows(
                    by_sid.get(op["snapshot"], []), self.expected[op["fixture"]],
                    self.baseline["lang"],
                )
            if bad:
                op["error"] = "; ".join(bad[:5])

    def stored_bytes(self) -> int:
        return dir_bytes(self.store.path) + dir_bytes(self.viol_path)


class TableIngest(Workload):
    """Deltas appended to one CHECK-constrained ``dff.tablefmt.Table``;
    after each append a stats-only check over the whole table and an
    incremental validation of the delta alone into a TableCheckpointStore,
    its violations published through a ViolationsSink."""

    name = "table_ingest"
    batch_kind = "ingest"
    step_s = 5.0

    def make_fixtures(self) -> None:
        self.path = f"{self.work}/deltas"
        self._batch_fixtures(self.path, self.scale["deltas"], self.scale["delta_rows"])

    def prepare(self) -> None:
        super().prepare()
        self._expected_batches(self.path)
        root = f"{self.work}/table"
        shutil.rmtree(root, ignore_errors=True)
        schema = self.spark.read.parquet(self.batch_dirs[0]).schema
        self.table = Table.create(root, schema)
        self.version = self.table.add_check_constraint(self.spark, "ck_keys", CHECK_EXPR)
        self.store = TableCheckpointStore(self.spark, f"{self.work}/tckpt")
        self.viol_path = f"{self.work}/viol"
        self.want_nulls = 0
        self.seq = 0

    def _ingest(self, k: int, before: int) -> dict:
        tr, spark = self.tr, self.spark
        delta = spark.read.parquet(self.batch_dirs[k])
        size0 = dir_bytes(self.table.root) if tr.enabled else 0
        with tr.span("tablefmt.Table.append"):
            v = self.table.append(delta)
        if tr.enabled:
            tr.note("tablefmt.Table.append", "bytes_added",
                    dir_bytes(self.table.root) - size0)
            tr.note("tablefmt.Table.append", "input_bytes", self.batch_bytes[k])
        with tr.span("statsvalidate.validate_table_stats"):
            totals = {
                r["constraint_id"]: r["violations"]
                for r in validate_table_stats(spark, self.table, STATS_RULES).collect()
            }
        if tr.enabled:
            plan = plan_stats_validation(self.table, STATS_RULES)
            tr.note("statsvalidate.validate_table_stats", "files_scanned",
                    plan.files_scanned)
            tr.note("statsvalidate.validate_table_stats", "files_total",
                    plan.files_total)
        with tr.span("tablefmt.Table.scan_added"):
            added = self.table.scan_added(spark, before, v)
        res = self.run_batch(self.runner(f"v{v}"), added, self.store, self.viol_path)
        if res is not None:
            res.unpersist()
        return {"version": v, "totals": totals, "validated": res is not None}

    def step(self, measured: bool) -> None:
        k = self.seq % len(self.batch_dirs)
        self.seq += 1
        before = self.version
        self.input_bytes += self.batch_bytes[k]
        self.want_nulls += gate.total(self.expected[k], "null_lang")
        want_nulls = self.want_nulls
        op = self.timed("ingest", lambda: self._ingest(k, before), fixture=k,
                        rows=gate.total(self.expected[k], "rows"),
                        want_nulls=want_nulls, measured=measured)
        if op["error"]:
            return
        v = self.version = op["out"]["version"]
        op["snapshot"] = f"v{v}"

        def resume():
            with self.tr.span("tablefmt.Table.scan_added"):
                added = self.table.scan_added(self.spark, before, v)
            return self.run_batch(self.runner(f"v{v}"), added, self.store, self.viol_path)

        for _ in range(self.resumes if measured else 0):
            self.timed("resume", resume, snapshot=f"v{v}", rows=0, measured=measured)
        self.compile_probe(self.spark.read.parquet(self.batch_dirs[k]))

    def check(self) -> None:
        by_sid = _checkpoint_by_snapshot(self.store)
        for op in self.ops:
            if op["error"]:
                continue
            if op["kind"] == "resume":
                bad = [] if op["out"] is None else ["re-submitted delta was validated again"]
            else:
                out = op["out"]
                bad = [] if out["validated"] else ["run() returned None for a new delta"]
                want = {"S_lang_not_null": op["want_nulls"], "S_part_range": 0, "S_row_id": 0}
                if out["totals"] != want:
                    bad.append(f"validate_table_stats {out['totals']} != {want}")
                bad += gate.check_checkpoint_rows(
                    by_sid.get(op["snapshot"], []), self.expected[op["fixture"]],
                    self.baseline["lang"],
                )
            if bad:
                op["error"] = "; ".join(bad[:5])

    def stored_bytes(self) -> int:
        return (dir_bytes(self.table.root) + dir_bytes(self.store.path)
                + dir_bytes(self.viol_path))


def _checkpoint_by_snapshot(store) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in store.read().collect():
        out.setdefault(r["snapshot_id"], []).append(r)
    return out


WORKLOADS = {w.name: w for w in (BulkSnapshot, MicroBatches, TableIngest)}
