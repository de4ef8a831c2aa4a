"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It writes the workload's tables under
``.perfbench/``, scaled from the engine's test fixture kept in
``perfbench/tables/`` (``scale.py``), builds the engine's Spark session, runs
the workload's ops through the registry's public ``Query.build`` and
``ml.als.ALSEngine`` methods, checks every op's output outside the timed
region, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, computed from spans kept in memory and written
to ``.perfbench/trace-<workload>-seed<N>.json`` at exit. README.md in this
directory describes the workloads, the metrics and how they relate.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

import duckdb
import scale
from measure import ProcProbe, StatusStore, Tracer, cpu_delta, progress_listener, steal_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

ALS_OP = "als_train_evaluate_recommend"
# Spark's task threads. With as many task threads as cores, the JVM's
# compiler and collector threads, the Python driver and the host's other
# tenants all queue behind them, and the relational workload's warm pass
# took 1.3 to 1.7 times as long while two busy processes shared the host;
# with two task threads it took 0 to 25% longer, and the ops, small at these
# scales, ran no slower on an idle host.
SPARK_CPUS = 2
# The JVM: a heap fixed at its 2 GB maximum and the parallel collector with
# a fixed sizing policy and two threads, because G1, the default, grows the
# heap from measured pause times, so its peak RSS varied by about a fifth
# between runs of the same work; and the client compiler only, because the
# server compiler's threads were still compiling after three warm passes, at
# about 0.7 CPU seconds per relational op, competing with the ops for the
# cores and putting the compiler into ``cpu_per_op_s``; the passes took about
# as long either way.
JVM_OPTS = ("-Xms2g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:ParallelGCThreads=2 "
            "-XX:TieredStopAtLevel=1")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[str, ...]
    pass_s: float  # about one warm pass; ``--seconds`` over it gives the warm passes


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational-sf0.005",
            0.005,
            (
                "q1_pricing_summary",
                "q3_top_orders",
                "q5_nation_volume",
                "q17_below_avg_qty_revenue",
                "q18_in_big_orders",
                "q_window_topk_orders_per_customer",
                "q_range_join_purchase_context",
            ),
            5.0,
        ),
        Workload(
            "iterative-sf0.001",
            0.001,
            (
                ALS_OP,
                "q_pagerank_copurchase",
                "q_stream_apws_user_max",
            ),
            9.0,
        ),
    )
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_host() -> None:
    """Host facts the engine reads from its environment, fixed here so every
    run of every commit sees the same ones."""
    for d in ("spark-local", "tmp"):  # start each run with these empty
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CPUS, host_cpus()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from the checkout root.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


NAN = float("nan")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else NAN


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else NAN


class Bench:
    """One run of one workload. Engine modules are imported inside the
    methods that use them: after ``pin_host`` has set the environment they
    read, and, for set-up, inside the set-up clock."""

    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool, data: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.data = data
        self.tracer = Tracer()
        self.tracer.on = trace
        self.progress: list[tuple[float, float, str]] = []
        self.records: list[dict] = []  # one per op execution
        self.failures: list[str] = []
        self.rmse: list[float] = []
        self.group_span: dict = {}  # job group -> the span that set it
        self._scanned = 0

    # -- set-up --------------------------------------------------------------

    def setup(self) -> float:
        """Process start to session built, registry loaded and every table
        read once; returns its wall seconds."""
        t0 = time.perf_counter()
        tr = self.tracer
        with tr.span("setup"):
            with tr.span("session.build"):
                from als_pyspark_spark.session import build_session

                self.spark = build_session(
                    "perfbench",
                    extra_conf={
                        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                        "spark.ui.showConsoleProgress": "false",
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_OPTS}",
                    },
                )
            self.sc = self.spark.sparkContext
            self.sc.setLogLevel("ERROR")
            with tr.span("registry.load"):
                from als_pyspark_spark.registry import load_all_queries

                self.queries = load_all_queries()
            from als_pyspark_spark.sources.tables import TABLES, load_table

            for t in TABLES:
                with self._phase(f"setup:{t}", "sources.load_table"):
                    df = load_table(self.spark, self.data, t)
                with self._phase(f"setup:{t}", "sources.read"):
                    df.count()
            self._group(None)
        setup_s = time.perf_counter() - t0

        self.proc = ProcProbe(self.sc._gateway.proc.pid)
        self.store = StatusStore(self.sc)
        if self.trace:
            self.spark.streams.addListener(progress_listener(self.progress))
            self._collect_jobs()
        self.tracer.on = False
        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return setup_s

    def _group(self, group: str | None) -> None:
        if not self.tracer.on:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def _phase(self, tag: str, name: str):
        """A span for one layer call; its Spark jobs carry the span's group."""
        group = f"{tag}:{name}"
        self._group(group)
        return self.tracer.span(name, group=group)

    # -- one op ----------------------------------------------------------------

    def reset(self) -> None:
        """Make every repetition of an op cost the same: drop cached tables
        and the two module memos that outlive a query."""
        from als_pyspark_spark.dedup import queries as dedup_queries
        from als_pyspark_spark.ml import queries as ml_queries

        self.spark.catalog.clearCache()
        ml_queries._TRAINED.clear()
        dedup_queries._CLONE_RATIO.clear()

    def _registry_op(self, name: str, tag: str):
        from als_pyspark_spark.plans.inspect import exchange_count

        with self._phase(tag, "build"):
            df = self.queries[name].build(self.spark, self.data)
        with self._phase(tag, "plan") as s:
            exchanges = exchange_count(df)
            if s is not None:
                s.attrs["exchanges"] = exchanges
        with self._phase(tag, "execute"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def _als_op(self, tag: str, recommend: bool = True) -> float:
        from als_pyspark_spark.ml.als import ALSEngine, ALSParams
        from als_pyspark_spark.sources.ratings import ratings

        with self._phase(tag, "build"):
            r = ratings(self.spark, self.data)
        with self._phase(tag, "ml.train"):
            eng = ALSEngine(ALSParams(rank=10, max_iter=5, reg_param=0.1, seed=42)).train(r)
        with self._phase(tag, "ml.evaluate"):
            rmse = eng.evaluate(r, "rmse")
        if recommend:
            with self._phase(tag, "ml.recommend"):
                eng.recommend_for_all_users(3).write.format("noop").mode("overwrite").save()
        return rmse

    def als_guard(self) -> None:
        """For workloads without the ALS op: train and evaluate once, untimed
        and counted as an attempted op, so that every workload reports
        ``als_rmse``."""
        rec = {"op": ALS_OP, "rep": -1, "ok": False, "check_s": 0.0}
        self.reset()
        try:
            self._check_rmse(self._als_op(f"{ALS_OP}#guard", recommend=False))
            rec["ok"] = True
        except Exception as e:
            self.failures.append(f"{ALS_OP}#guard: {type(e).__name__}: {str(e)[:300]}")
        self.records.append(rec)

    def run_op(self, name: str, rep: int, check: bool) -> dict:
        """Reset, run and time one op, then check its output (untimed) and
        release the caches it deferred."""
        from als_pyspark_spark.caching import release_deferred

        tag = f"{name}#{rep}"
        rec = {"op": name, "rep": rep, "ok": False, "check_s": 0.0}
        span = None
        self.reset()
        try:
            with self.tracer.span("op", op=name, rep=rep) as span:
                t0 = time.perf_counter()
                result = self._als_op(tag) if name == ALS_OP else self._registry_op(name, tag)
                rec["latency"] = time.perf_counter() - t0
            t1 = time.perf_counter()
            with self._phase(tag, "check"):
                if name == ALS_OP:
                    self._check_rmse(result)
                elif check:
                    self._check(name, result)
            rec["check_s"] = time.perf_counter() - t1
            rec["ok"] = True
            if span is not None:
                span.attrs["cached_mb"] = self.store.cached_mb()
        except Exception as e:  # a failing op is counted, and the run goes on
            self.failures.append(f"{tag}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            self._group(None)
            released = release_deferred()
            if span is not None:
                span.attrs["released"] = released
                self._collect_jobs()
        self.records.append(rec)
        return rec

    def _check_rmse(self, rmse: float) -> None:
        """The registry's ALS gate: a finite fit with training MSE < 1.5."""
        if not (math.isfinite(rmse) and rmse * rmse < 1.5):
            raise AssertionError(f"ALS rmse {rmse} is not finite or MSE >= 1.5")
        self.rmse.append(rmse)

    def _check(self, name: str, df) -> None:
        """Compare with the DuckDB oracle as the correctness gate does;
        rows-only ops must produce rows without error."""
        from als_pyspark_spark.canon import assert_scalar_schema, compare_result

        q = self.queries[name]
        assert_scalar_schema(df.schema, name)
        rows = [tuple(r) for r in df.collect()]
        if q.oracle is None:
            if not rows:
                raise AssertionError(f"{name}: rows-only op returned no rows")
            return
        compare_result(rows, df.columns, self.duck.execute(q.oracle).fetchdf(), name)

    def _collect_jobs(self) -> None:
        """Hang every finished Spark job under the span that started it: by
        job group, or, for jobs without one (streaming micro-batches), under
        the innermost grouped span whose window holds its submission."""
        for s in self.tracer.spans[self._scanned :]:
            if "group" in s.attrs:
                self.group_span[s.attrs["group"]] = s
        self._scanned = len(self.tracer.spans)
        for j in self.store.new_jobs():
            parent = self.group_span.get(j.pop("group"))
            how = "group"
            if parent is None:
                how = "window"
                inside = [s for s in self.group_span.values() if s.start <= j["start"] <= s.end]
                parent = min(inside, key=lambda s: s.end - s.start, default=None)
            self.tracer.add("job", j.pop("start"), j.pop("end"), parent, by=how, **j)

    # -- traffic ---------------------------------------------------------------

    def run_passes(self) -> list[dict]:
        """One client, closed loop: the op list once cold (outputs checked),
        then warm passes, each in a new seeded order. A traced run traces the
        cold pass and the odd warm passes, and not the even ones, so it
        measures its own tracing overhead."""
        out = []
        n_warm = max(1, round(self.seconds / self.wl.pass_s))
        if self.trace:  # at least one traced and one untraced warm pass
            n_warm = max(2, n_warm)
        for p in range(1 + n_warm):
            order = list(self.wl.ops)
            random.Random(self.seed * 1000 + p).shuffle(order)
            self.tracer.on = traced = self.trace and (p == 0 or p % 2 == 1)
            if traced:
                self.store.new_jobs()  # drop the untraced pass's jobs
            first, cpu0, t0 = len(self.records), self.proc.cpu(), time.perf_counter()
            with self.tracer.span("pass", n=p) as span:
                for name in order:
                    self.run_op(name, p, check=(p == 0))
            recs = self.records[first:]
            wall = time.perf_counter() - t0 - sum(r["check_s"] for r in recs)
            cpu = cpu_delta(cpu0, self.proc.cpu())
            self.tracer.on = False
            if span is not None:
                span.attrs.update({f"cpu_{k}": v for k, v in cpu.items()})
            out.append({"n": p, "traced": traced, "wall": wall, "cpu": cpu,
                        "ops": sum(r["ok"] for r in recs)})
        return out

    def teardown(self) -> None:
        """Stop the session and the JVM, if they started, and wait for the
        JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)


# -- metrics -------------------------------------------------------------------


def end_to_end(b: Bench, passes: list[dict], setup_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics. A warm figure is the best of the run's warm
    repetitions: on a shared host other tenants can slow a repetition down
    but not speed it up, so the fastest one is the one that measures the
    engine. A metric that no successful op defines (every op of the run
    failed) is NaN, so a failing run still reports."""
    warm_passes = [p for p in passes[1:] if p["ops"]]
    per_op: dict[str, list[float]] = {}
    for r in b.records:
        if r["ok"] and r["rep"] > 0:
            per_op.setdefault(r["op"], []).append(r["latency"])
    m = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall"], "s"),
        "batch_s": (min((p["wall"] for p in warm_passes), default=NAN), "s"),
        "query_geomean_s": (geomean([min(v) for v in per_op.values()]), "s"),
        "cpu_per_op_s": (min((sum(p["cpu"].values()) / p["ops"] for p in warm_passes),
                             default=NAN), "s"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
        "als_rmse": (median(b.rmse), "1"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


PER_LAYER_UNITS = {
    "session.build_s": "s",
    "registry.load_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.build_self_s": "s",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "execute.wall_s": "s",
    "execute.self_s": "s",
    "execute.jobs": "count",
    "execute.tasks": "count",
    "execute.run_s": "s",
    "execute.cpu_s": "s",
    "execute.gc_s": "s",
    "execute.shuffle_write_mb": "MB",
    "execute.shuffle_read_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.input_mb": "MB",
    "execute.sched_wait_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.driver_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "caching.released": "count",
    "caching.cached_mb": "MB",
    "ml.train_s": "s",
    "ml.train_jobs": "count",
    "ml.evaluate_s": "s",
    "ml.recommend_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_jobs": "count",
}
_STAGE_SUMS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
               "shuffle_read_mb", "spill_mb", "input_mb")


def op_layers(tr, op, progress) -> dict[str, float]:
    """Per-layer sums for one traced op span, plus ``op.shuffle_write_mb``
    over all of its jobs."""
    v = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    v["op.shuffle_write_mb"] = 0.0
    for ph in tr.children(op):
        dur = ph.end - ph.start
        jobs = tr.children(ph)
        v["execute.sched_wait_s"] += sum(j.attrs["sched_wait_s"] for j in jobs)
        v["op.shuffle_write_mb"] += sum(j.attrs["shuffle_write_mb"] for j in jobs)
        if ph.name == "build":
            v["query.build_s"] += dur
            v["query.build_jobs"] += len(jobs)
            v["query.build_self_s"] += tr.self_time(ph)
        elif ph.name == "plan":
            v["plans.plan_s"] += dur
            v["plans.exchanges"] += ph.attrs.get("exchanges", 0)  # none if it raised
        elif ph.name == "execute":
            v["execute.wall_s"] += dur
            v["execute.self_s"] += tr.self_time(ph)
            v["execute.jobs"] += len(jobs)
            for k in _STAGE_SUMS:
                v[f"execute.{k}"] += sum(j.attrs[k] for j in jobs)
        else:  # ml.train, ml.evaluate, ml.recommend
            v[f"{ph.name}_s"] += dur
            if ph.name == "ml.train":
                v["ml.train_jobs"] += len(jobs)
    v["caching.released"] = op.attrs.get("released", 0)
    v["caching.cached_mb"] = op.attrs.get("cached_mb", 0.0)
    for ts, trigger_s, _name in progress:
        if op.start <= ts <= op.end:
            v["streaming.batches"] += 1
            v["streaming.trigger_s"] += trigger_s
    return v


def per_layer(b: Bench, passes: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics: each summed over one traced warm pass, median over
    the traced warm passes; the set-up layers once per run."""
    tr = b.tracer
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)

    def total(name: str) -> float:
        return sum(s.end - s.start for s in by_name.get(name, []))

    per_op: dict[str, list[dict]] = {}
    pass_sums: list[dict[str, float]] = []
    for ps in by_name["pass"]:
        tot = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        for op in (s for s in tr.children(ps) if s.name == "op"):
            v = op_layers(tr, op, b.progress)
            per_op.setdefault(op.attrs["op"], []).append(v)
            for k in tot:
                tot[k] += v[k]
        if ps.attrs["n"] == 0:  # the cold pass only feeds per-op detail
            continue
        for k in ("jvm", "driver", "pyworker"):
            tot[f"proc.{k}_cpu_s"] = ps.attrs[f"cpu_{k}"]
        pass_sums.append(tot)
    out = {k: median([p[k] for p in pass_sums]) for k in PER_LAYER_UNITS}
    walls = {t: [p["wall"] for p in passes[1:] if p["traced"] == t] for t in (True, False)}
    out.update({
        "session.build_s": total("session.build"),
        "registry.load_s": total("registry.load"),
        "sources.load_table_s": total("sources.load_table"),
        "sources.load_table_jobs": sum(
            len(tr.children(s)) for s in by_name["sources.load_table"]
        ),
        "trace.overhead_s": median(walls[True]) - median(walls[False]),
        "trace.unattributed_jobs": sum(1 for s in by_name.get("job", []) if s.parent is None),
    })
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}, per_op


def shuffle_spread(per_op: dict[str, list[dict]]) -> dict[str, float]:
    """Per op, the largest relative difference between its traced
    repetitions (the cold one included) of the shuffle bytes written by its
    execute phase and by all of its jobs."""
    out = {}
    for op, vs in per_op.items():
        for key in ("execute.shuffle_write_mb", "op.shuffle_write_mb"):
            w = [v[key] for v in vs]
            if len(w) > 1 and max(w) > 0:
                out[f"{op}:{key}"] = (max(w) - min(w)) / max(w)
    return out


# -- main ----------------------------------------------------------------------


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "als_pyspark_spark", "registry.py")):
        print("perfbench: no als_pyspark_spark/ beside perfbench/; run from a "
              "checkout of the engine", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    data_root = os.path.join(WORK, "data")
    key = f"sf{wl.sf}"
    if os.path.isdir(data_root):  # keep only this run's tables
        for old in os.listdir(data_root):
            if old != key:
                shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    data = scale.write(os.path.join(data_root, key), wl.sf)
    pin_host()

    b = Bench(wl, args.seed, args.seconds, bool(args.trace), data)
    load1, steal0 = [os.getloadavg()[0]], steal_s()
    try:
        setup_s = b.setup()
        parallelism = [b.sc.defaultParallelism]
        passes = b.run_passes()
        rss_mb = b.proc.jvm_hwm_mb()  # before the guard, which is not the workload's
        if ALS_OP not in wl.ops:
            b.als_guard()
        load1.append(os.getloadavg()[0])
        parallelism.append(b.sc.defaultParallelism)
        if args.trace:
            metrics, per_op = per_layer(b, passes)
        else:
            metrics, per_op = end_to_end(b, passes, setup_s, rss_mb), {}
    finally:
        b.teardown()
    stolen = steal_s() - steal0
    print(f"# host: cpus={host_cpus()} defaultParallelism={parallelism} load1={load1} "
          f"steal_s={stolen:.2f}", file=sys.stderr)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": wl.sf,
        "ops": wl.ops,
        "cpus": host_cpus(),
        "default_parallelism": parallelism,
        "load1": load1,
        "steal_s": stolen,
        "passes": passes,
        "records": b.records,
        "failures": b.failures,
        "metrics": metrics,
    }
    if args.trace:
        detail.update(
            per_op=per_op,
            shuffle_write_spread=shuffle_spread(per_op),
            spans=b.tracer.dump(),
            progress=b.progress,
        )
    kind = "trace" if args.trace else "run"
    with open(os.path.join(WORK, f"{kind}-{wl.name}-seed{args.seed}.json"), "w") as f:
        json.dump(detail, f)
    for msg in b.failures:
        print(f"# FAIL {msg}", file=sys.stderr)
    failed = sum(1 for r in b.records if not r["ok"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(b.records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
