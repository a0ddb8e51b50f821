"""The benchmark's workloads: one CDC pipeline run at two shapes.

Every workload drives the same loop, so every workload reports every
end-to-end metric:

    set-up:     epoch 0 + compact() + view bootstrap + 3 lookups
    per epoch:  run_replay (exactly one new epoch) + maybe_compact
                [scheduled: refresh_views([aggregate, index, exporter])]
                closed-loop single-key lookups
    at the end: compact() + state().count()

The shapes differ in what dominates the wall:

* ``ingest_*``: 5 timed bulk epochs of 12k events, one lookup after
  each, the views refreshed after the last. The paper's headline job:
  events/s to the exact final state, through delta writes, a minor
  compaction and the final LWW resolve.
* ``serve_views``: a compacted 90k-event base built in set-up, then
  ~2k-event epochs, each followed by a view refresh and a closed loop of
  single-key lookups from one client. Per-call fixed cost (jobs,
  manifests, planning) dominates and data volume is tiny.

``ingest_1core`` is the ingest job on one core. It is not one of the
gated workloads in ``BENCHMARK.json`` (the gated set must fit the
benchmark's time budget) but stays runnable as the 1-core side of
``scaling_eff_1to4`` (``sets.py --workloads ingest_mor,ingest_1core``).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.benchkit import changelog_cache_ready
from aws_serverless_elt_pipeline_enterprise_spark.operators.cdf_export import CdfExporter
from aws_serverless_elt_pipeline_enterprise_spark.operators.incremental_agg import (
    MaterializedAggregate,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators.secondary_index import (
    SecondaryIndex,
)
from aws_serverless_elt_pipeline_enterprise_spark.sources.changelog import (
    ChangelogSpec,
    changelog_df,
    list_batches,
)
from aws_serverless_elt_pipeline_enterprise_spark.streaming.replay import (
    refresh_views,
    run_replay,
)
from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import SnapshotTable

from perfbench import checks
from perfbench.trace import Tracer

N_BUCKETS = 16
MAX_DELTAS = 4
# serve_views replays --seconds / SERVE_EPOCH_S slices (3 at the
# benchmark's run length)
SERVE_EPOCH_S = 5.0
# lookups served in set-up: the first lookup of a fresh JVM takes about
# 1.5x as long as the ones after it
WARMUP_LOOKUPS = 3


@dataclass(frozen=True)
class Workload:
    """One workload's shape; why each exists is in BENCHMARK.json and
    README.md."""

    name: str
    # None: all host cores
    cores: int | None
    # ingest: one epoch per arrival batch of the log. serve: every batch
    # but the last is epoch 0 (the base), the last batch is cut into
    # ``epochs`` slices.
    serve: bool
    events: int
    epochs: int
    # the views refresh after every ``refresh_every``-th timed epoch
    refresh_every: int
    lookups_per_epoch: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("ingest_mor", cores=None, serve=False, events=72_000, epochs=6,
                 refresh_every=5, lookups_per_epoch=1),
        Workload("ingest_1core", cores=1, serve=False, events=72_000, epochs=6,
                 refresh_every=5, lookups_per_epoch=1),
        Workload("serve_views", cores=None, serve=True, events=100_000, epochs=5,
                 refresh_every=1, lookups_per_epoch=2),
    )
}


def spec_for(wl: Workload, seed: int) -> ChangelogSpec:
    # default anomaly mix; ingest adds the mid-log schema evolution
    return ChangelogSpec(
        n_events=wl.events,
        n_keys=wl.events // 10,
        n_batches=10 if wl.serve else wl.epochs,
        seed=seed,
        malformed_rate=0.001,
        evolve_at_batch=None if wl.serve else wl.epochs // 2,
    )


def log_key(wl: Workload, seed: int) -> str:
    """Identity of a workload's change log: its spec and batch layout.
    The ingest pair shares one log per seed."""
    layout = f"serve{wl.epochs}" if wl.serve else "epochs"
    return hashlib.sha1(f"{spec_for(wl, seed)!r}|{layout}".encode()).hexdigest()[:16]


def _du(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def generate_log(spark, log_dir: str, wl: Workload, seed: int) -> dict[str, int]:
    """Write the workload's change log, one parquet dir per epoch
    (``batch_00000``, ...), in one pass over the generator's frame.
    Returns the event count of each dir."""
    spec = spec_for(wl, seed)
    df = changelog_df(spark, spec)
    if wl.serve:
        # epoch 0: every event before the last arrival batch (the base);
        # epochs 1..: the last batch cut into seq-contiguous slices of
        # ~equal size
        tail = F.col("batch_id") == spec.n_batches - 1
        part = Window.partitionBy(tail)
        rank = F.row_number().over(part.orderBy("seq", "doc_id", "op")) - 1
        epoch = F.when(
            tail, 1 + F.floor(rank * wl.epochs / F.count(F.lit(1)).over(part))
        ).otherwise(0)
        frames = [df.withColumn("_epoch", epoch.cast("int"))]
    else:
        # one epoch per arrival batch; batches before the evolution point
        # keep the narrow schema (n_tok int32, no quality_score), as
        # generate_changelog writes them
        evolved = F.col("batch_id") >= spec.evolve_at_batch
        frames = [
            df.filter(~evolved).drop("quality_score")
            .withColumn("n_tok", F.col("n_tok").cast("int")),
            df.filter(evolved),
        ]
        frames = [f.withColumn("_epoch", F.col("batch_id")) for f in frames]
    staged = os.path.join(log_dir, "_staged")
    for f in frames:
        # 4 files per epoch, as generate_changelog writes at this size
        f.repartition(4, "seq").write.mode("append").partitionBy("_epoch").parquet(staged)
    n_dirs = wl.epochs + 1 if wl.serve else wl.epochs
    for e in range(n_dirs):
        batch = os.path.join(log_dir, f"batch_{e:05d}")
        os.rename(os.path.join(staged, f"_epoch={e}"), batch)
        open(os.path.join(batch, "_SUCCESS"), "w").close()
    shutil.rmtree(staged)
    if not changelog_cache_ready(log_dir, n_dirs):
        raise RuntimeError(f"change log in {log_dir} is incomplete")
    return {
        os.path.basename(p): sum(
            pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
            for f in os.listdir(p) if f.endswith(".parquet"))
        for p in list_batches(log_dir)
    }


class TimedView:
    """A maintained view handed to ``refresh_views``: forwards the
    shared-diff protocol and times the view's own refresh as a span."""

    def __init__(self, view, span_name: str, tracer: Tracer):
        self.view = view
        self.span_name = span_name
        self.tracer = tracer
        self.source = view.source
        self.cdf_images = view.cdf_images

    def cdf_bookmark(self):
        return self.view.cdf_bookmark()

    def refresh(self, changes=None, to_version=None):
        with self.tracer.span(self.span_name):
            return self.view.refresh(changes=changes, to_version=to_version)


class Run:
    """One benchmark run of one workload in an open Spark session."""

    def __init__(self, spark, tracer: Tracer, wl: Workload, seed: int, seconds: float,
                 work: str, log_dir: str, counts: dict[str, int], fingerprints: str):
        self.spark, self.tracer, self.wl = spark, tracer, wl
        self.seed, self.seconds = seed, seconds
        self.work, self.log_dir, self.counts = work, log_dir, counts
        self.fingerprints = fingerprints
        self.spec = spec_for(wl, seed)
        self.quarantine = os.path.join(work, "quarantine")
        self.attempted = 0
        self.failed = 0
        # (epochs applied, key, rows returned)
        self.lookup_log: list[tuple[int, str, list]] = []
        self.refreshes = 0

    # ----------------------------------------------------------- helpers

    def _aqe(self, on: bool) -> None:
        # replay stages are fixed-shape; AQE's re-planning is pure driver
        # overhead there (as bench.py runs the replay)
        self.spark.conf.set("spark.sql.adaptive.enabled", "true" if on else "false")

    def _epoch(self, table: SnapshotTable, n: int) -> float:
        """Apply exactly the n-th epoch, then the maintenance that must
        finish before the next epoch can start. Returns the wall."""
        self._aqe(False)
        with self.tracer.span("epoch", n=n) as epoch:
            with self.tracer.span("replay"):
                run_replay(self.spark, self.log_dir, table,
                           quarantine_dir=self.quarantine, max_epochs=n + 1)
            with self.tracer.span("maybe_compact") as s:
                s["ran"] = table.maybe_compact(max_deltas=MAX_DELTAS) is not None
        self._aqe(True)
        self.attempted += 2
        return epoch["end"] - epoch["start"]

    def _refresh(self, views: list[TimedView], bootstrap: bool) -> float:
        with self.tracer.span("view_bootstrap" if bootstrap else "refresh_views") as s:
            refresh_views(views)
        self.attempted += 1
        self.refreshes += 1
        return s["end"] - s["start"]

    def _lookups(self, table: SnapshotTable, rng: random.Random, applied: int,
                 n: int) -> None:
        for _ in range(n):
            key = f"doc_{rng.randrange(self.spec.n_keys):08d}"
            with self.tracer.span("lookup"):
                rows = table.lookup([key]).collect()
            self.lookup_log.append((applied, key, rows))
            self.attempted += 1

    def _views(self, table: SnapshotTable, root: str) -> list[TimedView]:
        roots = [os.path.join(root, d) for d in ("agg", "idx", "cdf")]
        agg = MaterializedAggregate(self.spark, table, roots[0], ["source"],
                                    sums={"n_tok": "n_tok"})
        idx = SecondaryIndex(self.spark, table, roots[1], "source")
        cdf = CdfExporter(self.spark, table, roots[2], images="both")
        return [
            TimedView(agg, "incremental_agg.refresh", self.tracer),
            TimedView(idx, "secondary_index.refresh", self.tracer),
            TimedView(cdf, "cdf_export.refresh", self.tracer),
        ]

    # --------------------------------------------------------------- run

    def execute(self, t_process: float, excluded_s: float) -> tuple[dict, dict]:
        """Set up, run the timed window, check. ``excluded_s``: set-up
        time not charged to ``setup_s`` (change log generation)."""
        wl, tr = self.wl, self.tracer
        batches = sorted(self.counts)
        table = SnapshotTable(self.spark, os.path.join(self.work, "table"),
                              n_buckets=N_BUCKETS, mode="mor")
        rng = random.Random(self.seed)
        views_root = os.path.join(self.work, "views")
        views = self._views(table, views_root)

        # set-up: epoch 0 (the first ingest epoch, or the serve base)
        # is applied, compacted and the views bootstrapped on it. This
        # also pays the JVM's cold costs (class loading, codegen, JIT) of
        # the replay, compaction, view and lookup paths outside the
        # timed window.
        with tr.span("base_build"):
            self._epoch(table, 0)
            table.compact(sort_within_buckets=wl.serve)
            self._refresh(views, bootstrap=True)
            self._lookups(table, rng, 1, WARMUP_LOOKUPS)
        setup_s = time.monotonic() - t_process - excluded_s

        # fixed work per run, so two commits are compared on the same job:
        # serve_views runs one slice per SERVE_EPOCH_S of --seconds
        last = len(batches)
        if wl.serve:
            last = min(last, 1 + max(1, round(self.seconds / SERVE_EPOCH_S)))
        epoch_s, refresh_s = [], []
        with tr.span("timed") as window:
            for n in range(1, last):
                epoch_s.append(self._epoch(table, n))
                if n % wl.refresh_every == 0:
                    refresh_s.append(self._refresh(views, bootstrap=False))
                self._lookups(table, rng, n + 1, wl.lookups_per_epoch)
            with tr.span("compact"):
                table.compact()
            with tr.span("state"):
                final_rows = table.state().count()
            self.attempted += 2
        lookup_s = [
            s["end"] - s["start"] for s in tr.spans
            if s["name"] == "lookup" and s["start"] >= window["start"]
        ]
        ingest_wall = sum(epoch_s) + sum(tr.walls("compact")) + sum(tr.walls("state"))
        timed_events = sum(self.counts[b] for b in batches[1:last])

        applied = [os.path.join(self.log_dir, b) for b in batches[:last]]
        consumed = sum(_parquet_bytes(p) for p in applied)
        written = _du([table.root, self.quarantine, views_root])

        t_checks = time.monotonic()
        gate = checks.Gates(self, views, self.fingerprints)
        gate.run_all(table, applied, final_rows, log_key(wl, self.seed))
        self.attempted += gate.attempted
        self.failed += gate.failed
        self.quarantined_rows = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _, files in os.walk(self.quarantine)
            if not os.path.relpath(d, self.quarantine).startswith(".")
            for f in files if f.endswith(".parquet"))

        self.table = table
        self.window = window
        return {
            "setup_s": (setup_s, "s"),
            "ingest_events_per_s": (timed_events / ingest_wall, "events/s"),
            "epoch_latency_p50_s": (statistics.median(epoch_s), "s"),
            "view_refresh_p50_s": (statistics.median(refresh_s), "s"),
            "lookup_p50_ms": (statistics.median(lookup_s) * 1000, "ms"),
            "bytes_written_per_input_byte": (written / consumed, "ratio"),
        }, {
            "epochs": len(epoch_s),
            "refreshes": len(refresh_s),
            "lookups": len(lookup_s),
            "final_rows": final_rows,
            **{f"{n}_s": round(sum(tr.walls(n)), 2)
               for n in ("session", "changelog_generate", "base_build", "timed")},
            "checks_s": round(time.monotonic() - t_checks, 2),
        }

    # ---------------------------------------------------------- per layer

    def layer_metrics(self) -> dict:
        """Per-layer metrics from the attributed spans of the timed
        window (``trace.attribute`` must have run)."""
        tr, w = self.tracer, self.window

        def timed(name, pred=lambda s: True):
            return [
                s for s in tr.spans
                if s["name"] == name and s["start"] >= w["start"]
                and s["end"] <= w["end"] and pred(s)
            ]

        def med(spans, key):
            vals = [
                (s["end"] - s["start"]) * 1000 if key == "wall_ms" else s["spark"][key]
                for s in spans
            ]
            return statistics.median(vals) if vals else 0.0

        out: dict[str, tuple[float, str]] = {}
        units = {"wall_ms": "ms", "jobs": "count", "tasks": "count", "driver_ms": "ms",
                 "busy_frac": "ratio", "task_cpu_ms": "ms", "gc_ms": "ms",
                 "task_skew": "ratio", "input_mb": "MB", "output_mb": "MB",
                 "shuffle_mb": "MB", "spill_mb": "MB"}

        def put(prefix, spans, keys):
            for k in keys:
                out[f"{prefix}.{k}"] = (med(spans, k), units[k])

        put("replay.epoch", timed("replay"),
            ["wall_ms", "jobs", "tasks", "driver_ms", "busy_frac", "task_cpu_ms",
             "gc_ms", "task_skew", "input_mb", "output_mb"])
        ran = timed("maybe_compact", lambda s: s["ran"])
        out["snapshot.maybe_compact.runs"] = (float(len(ran)), "count")
        put("snapshot.maybe_compact", ran, ["wall_ms", "busy_frac", "shuffle_mb", "output_mb"])
        put("snapshot.compact", timed("compact"),
            ["wall_ms", "busy_frac", "shuffle_mb", "spill_mb", "task_skew"])
        out["snapshot.state.wall_ms"] = (med(timed("state"), "wall_ms"), "ms")
        manifest = os.path.join(self.table.root, "manifests",
                                f"v{self.table.current_version():06d}.json")
        out["snapshot.manifest_kb"] = (os.path.getsize(manifest) / 1024, "KB")
        refreshes = timed("refresh_views")
        put("replay.refresh_views", refreshes, ["wall_ms", "jobs", "driver_ms", "busy_frac"])
        view_names = ("incremental_agg.refresh", "secondary_index.refresh", "cdf_export.refresh")
        shared = []
        for r in refreshes:
            kids = sum(s["end"] - s["start"] for s in tr.spans
                       if s["parent"] == r["id"] and s["name"] in view_names)
            shared.append((r["end"] - r["start"] - kids) * 1000)
        out["replay.refresh_views.shared_diff_ms"] = (
            statistics.median(shared) if shared else 0.0, "ms")
        for name in view_names:
            out[f"{name}.wall_ms"] = (
                med([s for s in timed(name)
                     if tr.spans[s["parent"]]["name"] == "refresh_views"], "wall_ms"), "ms")
        lookups = timed("lookup")
        put("snapshot.lookup", lookups, ["jobs", "driver_ms"])
        out["snapshot.lookup.files_read"] = (med(lookups, "files_read"), "count")
        out["snapshot.lookup.input_kb"] = (med(lookups, "input_mb") * 1024, "KB")
        out["replay.quarantine.rows"] = (float(self.quarantined_rows), "count")
        for name in ("session", "changelog_generate", "base_build"):
            out[f"setup.{name}_s"] = (sum(tr.walls(name)), "s")
        return out
