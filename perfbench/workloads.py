"""The two workloads. Each has ``prepare_inputs`` (benchmark-side input
generation, before the session starts), ``setup`` (timed in setup_s),
``rep(i)`` (one timed repetition), ``finish`` (workload figures and
per-layer metrics after the last rep) and ``rows`` (the per-operation
table of a traced run)."""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

from common import (
    DRAIN_TIMEOUT_S,
    FILES_PER_TRIGGER,
    LANDING_FILES,
    NIGHTLY_SF_DIR,
    RUN_DATE,
    SF_DIR,
    WORK,
    log,
    orphan_dirs,
    parquet_rows,
    quantile,
    tree_files,
)

WRITE_MODES = ("full_refresh", "snapshot", "upsert", "append")


def _wrap_layers(bench) -> None:
    """Spans around the four table-write modes; in a traced run the
    cache release also records what it releases."""
    from etl_pipelines_spark.operators import cacheutil
    from etl_pipelines_spark.sources import writers

    tr = bench.tracer
    for mode in WRITE_MODES:
        tr.wrap(writers, mode, lambda *a, _m=mode, **k: tr.child(_m))
    if bench.trace:
        release = cacheutil.unpersist_tracked

        def traced_release(blocking: bool = False) -> int:
            infos = bench.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
            bench.cache_peak_bytes = max(bench.cache_peak_bytes, held)
            n = release(blocking)
            bench.cache_tracked += n
            return n

        cacheutil.unpersist_tracked = traced_release


# --- query_suite -------------------------------------------------------------

class QuerySuite:
    """Headline registry queries in a seeded order, each timed as build
    + plan + execute into a ``noop`` sink."""

    sf_dir = SF_DIR

    def __init__(self, bench):
        self.b = bench
        self.spec = bench.manifest["query_suite"]
        self.order = sorted(self.spec)
        bench.rng.shuffle(self.order)
        self.lat: dict[str, list[float]] = defaultdict(list)

    def prepare_inputs(self) -> None:
        pass

    def setup(self) -> None:
        from etl_pipelines_spark.queries import REGISTRY

        self.registry = REGISTRY
        _wrap_layers(self.b)

    def rep(self, i: int) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        b, tr = self.b, self.b.tracer
        total = 0.0
        for name in self.order:
            span = f"r{i}/q/{name}"
            try:
                t0 = time.perf_counter()
                with tr.span(span):
                    with tr.span(span + "/build"):
                        df = self.registry[name].spark(b.spark, self.sf_dir)
                    obs = Observation()
                    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    if b.trace:
                        # Forced here only to time it; the sink plans
                        # the write command again.
                        with tr.span(span + "/plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span(span + "/exec"):
                        df.write.mode("overwrite").format("noop").save()
                elapsed = time.perf_counter() - t0
                rows = obs.get["rows"]
            except Exception:
                b.error(name)
            else:
                if b.check(f"{name} rows", rows, self.spec[name]["rows"]):
                    self.lat[name].append(elapsed)
                    b.op(name, elapsed)
                total += elapsed
            b.release()
        b.rep_s.append(total)

    def finish(self) -> None:
        b = self.b
        med = {n: statistics.median(v) for n, v in self.lat.items()}
        lat = list(med.values())
        tail = {n for n, s in self.spec.items() if s["python_tail"]}
        b.figures.update({
            "query_suite_s": (statistics.median(b.rep_s), "s"),
            "query_p50_s": (quantile(lat, 0.5), "s"),
            "query_p90_s": (quantile(lat, 0.9), "s"),
            "relational_s": (sum(v for n, v in med.items() if n not in tail), "s"),
            "python_tail_s": (sum(v for n, v in med.items() if n in tail), "s"),
        })

    def rows(self, stats) -> dict:
        """Per-query rows of the traced run (first rep)."""
        tr = self.b.tracer
        out = {}
        for name in self.order:
            span = f"r0/q/{name}"
            g = {k: stats.get(f"{span}/{k}") for k in ("build", "plan", "exec")}
            out[name] = {
                "module": self.spec[name]["module"],
                "python_tail": self.spec[name]["python_tail"],
                "total_s": tr.span_s(span),
                "build_s": tr.span_s(span + "/build"),
                "plan_s": tr.span_s(span + "/plan"),
                "exec_s": tr.span_s(span + "/exec"),
                "build_jobs": g["build"].jobs if g["build"] else 0,
                "exec_jobs": sum(g[k].jobs for k in ("plan", "exec") if g[k]),
                "stages": sum(s.stages for s in g.values() if s),
                "tasks": sum(s.tasks for s in g.values() if s),
                "task_s": sum(s.task_s for s in g.values() if s),
                "python_worker_s": sum(s.py_worker_s for s in g.values() if s),
            }
        return out

    def layer_metrics(self, stats) -> None:
        rows = self.rows(stats)

        def total(key: str, module: str | None = None) -> float:
            return sum(r[key] for r in rows.values() if module in (None, r["module"]))

        self.b.layer.update({
            "queries.build_s": total("build_s"),
            "queries.build_jobs": total("build_jobs"),
            "queries.plan_s": total("plan_s"),
            "queries.exec_s": total("exec_s"),
            "queries.exec_jobs": total("exec_jobs"),
            "textops.build_s": total("build_s", "textops"),
            "textops.exec_s": total("exec_s", "textops"),
            "multimodal.exec_s": total("exec_s", "multimodal"),
            "ml.exec_s": total("exec_s", "ml"),
        })


# --- nightly_ingest ----------------------------------------------------------

class NightlyIngest:
    """One night of the warehouse: ``build_warehouse_pipeline()`` as
    shipped (group DAG, default pool) into a fresh warehouse, then one
    trailing-day ``run_incremental_event_chain`` upserting into the
    tables the rebuild wrote, then an ``applyInPandasWithState``
    streaming path drained with ``availableNow`` from a seeded 16-file
    landing directory."""

    sf_dir = NIGHTLY_SF_DIR

    def __init__(self, bench):
        self.b = bench
        self.spec = bench.manifest["nightly_ingest"]
        self.landing = os.path.join(WORK, "landing")
        self.results = []  # ModelResult lists, one per rep
        self.progress: list[dict] = []  # per drain: name + StreamingQueryProgress
        self.phase_s: dict[str, list[float]] = defaultdict(list)

    def prepare_inputs(self) -> None:
        """Cut the time-ordered events into LANDING_FILES contiguous
        slices at seeded boundaries (file order and mtimes follow time,
        so no event arrives behind the watermark; the stateful sink's row
        count follows the cuts and is derived here), and pick the incremental ``since`` day among the last
        days of events."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        rng = self.b.rng
        ev = pq.read_table(f"{self.sf_dir}/events.parquet")
        ev = ev.set_column(
            ev.schema.get_field_index("ts"), "ts",
            pc.cast(ev["ts"], pa.timestamp("us", tz="UTC")),
        )
        ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        n = ev.num_rows
        weights = [rng.uniform(0.75, 1.25) for _ in range(LANDING_FILES)]
        cuts = np.floor(np.cumsum([0] + weights) / sum(weights) * n).astype(int)
        os.makedirs(self.landing)
        base = time.time() - 3600
        for f in range(LANDING_FILES):
            part = ev.slice(cuts[f], cuts[f + 1] - cuts[f])
            perm = list(range(part.num_rows))
            rng.shuffle(perm)
            path = os.path.join(self.landing, f"part-{f:02d}.parquet")
            pq.write_table(part.take(perm), path)
            os.utime(path, (base + f, base + f))
        # applyInPandasWithState emits one row per user per micro-batch
        users = ev["user_id"].to_numpy()
        self.stateful_rows = sum(
            len(np.unique(users[cuts[lo]:cuts[min(lo + FILES_PER_TRIGGER, LANDING_FILES)]]))
            for lo in range(0, LANDING_FILES, FILES_PER_TRIGGER)
        )
        self.n_events = n
        day = pc.cast(ev["ts"], pa.date32())
        days = sorted(set(day.to_pylist()))
        self.since = rng.choice(days[-self.spec["since_last_days"]:])
        # the raw events' share at or after `since` (rewrite_ratio's base)
        in_slice = pc.sum(pc.greater_equal(day, pa.scalar(self.since))).as_py()
        self.slice_bytes = os.path.getsize(f"{self.sf_dir}/events.parquet") * in_slice / n

    def setup(self) -> None:
        from etl_pipelines_spark.plans import warehouse

        self.warehouse = warehouse
        _wrap_layers(self.b)

    def rep(self, i: int) -> None:
        b = self.b
        started = time.time()
        ctx = self._rebuild(i)
        if ctx is None:
            return
        if b.trace:
            self._writer_layer(ctx.catalog.root, started, "rebuild")
        b.release()
        started = time.time()
        inc_s = self._incremental(i, ctx)
        if inc_s is None:
            return
        if b.trace:
            self._writer_layer(ctx.catalog.root, started, "incremental")
        b.release()
        drain_s = 0.0
        for name, start, sink in self._drains(i):
            try:
                drain_s += self._drain(i, name, start, sink)
            except Exception:
                b.error(f"drain {name}")
        self.phase_s["stream_drain_s"].append(drain_s)
        b.rep_s.append(self.phase_s["rebuild_s"][-1] + inc_s + drain_s)

    def _rebuild(self, i: int):
        from etl_pipelines_spark.plans.model import RunContext
        from etl_pipelines_spark.sources.catalog import Catalog

        b, tr = self.b, self.b.tracer
        wh = os.path.join(WORK, f"rep{i}", "wh")
        os.makedirs(wh)
        ctx = RunContext(
            spark=b.spark, catalog=Catalog(b.spark, wh),
            source_dir=self.sf_dir, run_date=RUN_DATE,
        )
        pipe = self.warehouse.build_warehouse_pipeline(parallel_within_group=True)
        for g in pipe.groups:
            for m in g.models:
                span = f"r{i}/m/{m.name}"
                tr.wrap(m, "materialize", lambda *a, _s=span, **k: _s)
                tr.wrap(m, "build", lambda *a, _s=span, **k: _s + "/build")
        try:
            t0 = time.perf_counter()
            results = pipe.run(ctx)
            self.phase_s["rebuild_s"].append(time.perf_counter() - t0)
        except Exception:
            b.error("Pipeline.run")
            return None
        self.results.append(results)
        want = self.spec["models"]
        b.check("model names", sorted(r.name for r in results), sorted(want))
        for r in results:
            rows = parquet_rows(ctx.catalog.path(r.name)) if r.status == "success" else None
            if b.check(r.name, (r.status, r.attempts, rows), ("success", 1, want.get(r.name))):
                b.op(r.name, r.seconds)
        return ctx

    def _incremental(self, i: int, ctx) -> float | None:
        b = self.b
        try:
            t0 = time.perf_counter()
            with b.tracer.span(f"r{i}/incremental"):
                counts = self.warehouse.run_incremental_event_chain(ctx, self.since)
            inc_s = time.perf_counter() - t0
        except Exception:
            b.error("run_incremental_event_chain")
            return None
        self.phase_s["incremental_s"].append(inc_s)
        if b.check("incremental counts", counts, self.spec["chain_rows"]):
            b.op("run_incremental_event_chain", inc_s)
        return inc_s

    def _writer_layer(self, root: str, since: float, phase: str) -> None:
        """Files and bytes the writers left under ``root`` since
        ``since``; for the incremental phase also the partitions it
        rewrote and their size against the input slice."""
        L = self.b.layer
        files = list(tree_files(root, since=since))
        written = sum(n for _, n in files)
        L["writers.files_written"] = L.get("writers.files_written", 0) + len(files)
        L["writers.bytes_written"] = L.get("writers.bytes_written", 0) + written
        L["writers.orphan_dirs"] = orphan_dirs(root)
        if phase == "incremental":
            parts = {os.path.dirname(p) for p, _ in files if "=" in os.path.basename(os.path.dirname(p))}
            L["writers.partitions_rewritten"] = L.get("writers.partitions_rewritten", 0) + len(parts)
            L["writers.rewrite_ratio"] = written / self.slice_bytes

    def _drain(self, i: int, name: str, start, sink: str) -> float:
        b, tr = self.b, self.b.tracer
        tr.streaming = True
        try:
            t0 = time.perf_counter()
            with tr.span(f"r{i}/s/{name}"):
                q = start()
                tr.name_group(str(q.runId), f"r{i}/s/{name}")
                q.awaitTermination(DRAIN_TIMEOUT_S)
            elapsed = time.perf_counter() - t0
        finally:
            tr.streaming = False
        if q.isActive:
            q.stop()
            raise RuntimeError(f"drain {name} did not finish in {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        self.progress.append({"drain": name, "progress": progress})
        if b.check(f"drain {name} rows", parquet_rows(sink), self.stateful_rows):
            b.op(f"drain {name}", elapsed)
        return elapsed

    def _drains(self, i: int):
        """(name, start(), sink directory) of each streaming path: the
        ``applyInPandasWithState`` running stats per user, appended to
        parquet through ``foreachBatch``."""
        from etl_pipelines_spark.streaming import read_events_stream, running_user_stats

        spark = self.b.spark
        root = os.path.join(WORK, f"rep{i}", "stream")
        out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")

        def start():
            stats = running_user_stats(read_events_stream(
                spark, self.landing, max_files_per_trigger=FILES_PER_TRIGGER
            ))
            return (
                stats.writeStream
                .foreachBatch(lambda batch, _id: batch.write.mode("append").parquet(out))
                .option("checkpointLocation", ckpt).outputMode("update")
                .trigger(availableNow=True).start()
            )

        return [("stateful", start, out)]

    def finish(self) -> None:
        b = self.b
        for phase, values in self.phase_s.items():
            b.figures[phase] = (statistics.median(values), "s")
        drains = len({d["drain"] for d in self.progress})
        batch_s = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for d in self.progress for p in d["progress"] if p.get("numInputRows", 0) > 0
        ]
        b.figures.update({
            "stream_events_per_s": (
                drains * self.n_events / b.figures["stream_drain_s"][0], "1/s"
            ),
            "microbatch_p50_s": (quantile(batch_s, 0.5), "s"),
            "microbatch_p90_s": (quantile(batch_s, 0.9), "s"),
        })

    def layer_metrics(self, stats) -> None:
        results = self.results[0]
        model_s = sum(r.seconds for r in results)
        dur: dict[str, float] = defaultdict(float)
        state_rows = state_bytes = batches = 0
        for d in self.progress:
            batches += len(d["progress"])
            for p in d["progress"]:
                for k, v in p.get("durationMs", {}).items():
                    dur[k] += v / 1000.0
            for op in (d["progress"][-1].get("stateOperators") or []) if d["progress"] else []:
                state_rows += op.get("numRowsTotal", 0)
                state_bytes += op.get("memoryUsedBytes", 0)
        rows = self.rows(stats)["models"].values()
        self.b.layer.update({
            "plans.model_s": model_s,
            "plans.build_s": sum(r["build_s"] for r in rows),
            "plans.build_jobs": sum(r["build_jobs"] for r in rows),
            "plans.attempts": sum(r.attempts for r in results),
            "plans.parallelism": model_s / self.phase_s["rebuild_s"][0],
            "plans.critical_path_s": self._critical_path(results),
            "quality.model_s": sum(r.seconds for r in results if r.name.startswith("mon.")),
            "streaming.batches": batches,
            "streaming.add_batch_s": dur["addBatch"],
            "streaming.planning_s": dur["queryPlanning"],
            "streaming.get_batch_s": dur["getBatch"],
            "streaming.wal_commit_s": dur["walCommit"] + dur["commitOffsets"],
            "streaming.state_rows": state_rows,
            "streaming.state_bytes": state_bytes,
        })

    def _critical_path(self, results) -> float:
        """Longest dependency chain of groups, each group costing its
        slowest model."""
        secs = {r.name: r.seconds for r in results}
        pipe = self.warehouse.build_warehouse_pipeline()
        deps = pipe._deps()
        finish: dict[str, float] = {}
        for g in pipe.groups:
            own = max((secs.get(m.name, 0.0) for m in g.models), default=0.0)
            finish[g.name] = own + max((finish[d] for d in deps[g.name]), default=0.0)
        return max(finish.values())

    def rows(self, stats) -> dict:
        """Per-model and per-drain rows of the traced run (first rep)."""
        tr = self.b.tracer
        models = {}
        for r in self.results[0]:
            span = f"r0/m/{r.name}"
            mine = [v for k, v in stats.items() if k == span or k.startswith(span + "/")]
            build = stats.get(span + "/build")
            models[r.name] = {
                "status": r.status,
                "attempts": r.attempts,
                "model_s": r.seconds,
                "build_s": tr.span_s(span + "/build"),
                "write_s": sum(tr.span_s(f"{span}/{m}") for m in WRITE_MODES),
                "build_jobs": build.jobs if build else 0,
                "jobs": sum(s.jobs for s in mine),
                "tasks": sum(s.tasks for s in mine),
                "task_s": sum(s.task_s for s in mine),
                "shuffle_bytes": sum(s.shuffle_bytes for s in mine),
            }
        drains = {
            d["drain"]: {
                "batches": len(d["progress"]),
                "input_rows": sum(p.get("numInputRows", 0) for p in d["progress"]),
                "trigger_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in d["progress"]],
            }
            for d in self.progress
        }
        return {"models": models, "drains": drains}


WORKLOAD_CLASSES = {
    "query_suite": QuerySuite,
    "nightly_ingest": NightlyIngest,
}


def write_trace(bench, workload, out_dir: str) -> None:
    """Summarise the event log into the per-layer metrics every
    workload reports (zero where a layer is not exercised) and write
    spans plus per-operation rows once."""
    from spans import summarise_event_log

    stats = summarise_event_log(bench.event_log, bench.tracer.group_alias)
    measured = {k: v for k, v in stats.items() if k.startswith("r")}

    def tot(attr: str) -> float:
        return sum(getattr(s, attr) for s in measured.values())

    wall = sum(bench.rep_s)
    bench.layer.update({
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.task_s": tot("task_s"),
        "spark.busy_ratio": tot("task_s") / (wall * bench.cores),
        "spark.single_task_stages": tot("single_task_stages"),
        "spark.shuffle_bytes": tot("shuffle_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.gc_s": tot("gc_s"),
        "python.rows_received": tot("py_rows_received"),
        "python.bytes_sent": tot("py_bytes_sent"),
        "python.bytes_received": tot("py_bytes_received"),
        "python.worker_s": tot("py_worker_s"),
        "cacheutil.tracked": bench.cache_tracked,
        "cacheutil.cached_bytes": bench.cache_peak_bytes,
        "writers.write_s": bench.tracer.label_s("full_refresh", "snapshot", "append"),
        "writers.upsert_s": bench.tracer.label_s("upsert"),
    })
    workload.layer_metrics(measured)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{bench.workload}-seed{bench.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": bench.workload,
            "seed": bench.seed,
            "rows": workload.rows(measured),
            "groups": {k: vars(v) for k, v in sorted(stats.items())},
            "spans": [vars(s) for s in bench.tracer.spans],
        }, f, indent=1)
    log(f"trace written to {path}")
