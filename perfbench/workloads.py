"""The benchmark's workloads, the closed loop that drives them, and the
metrics they report.

Every workload is one client on ``local[n]`` (n = min(4, nproc)) calling
the engine's public functions only. An op is timed from the public call
(which returns a DataFrame, and may already run jobs) to the end of the
action that consumes its result; the two parts are the op's build and
action. A round is the workload's fixed sequence of ops; the loop runs
rounds until ``--seconds`` have passed. Outputs are checked after the
loop, against oracles computed after the loop, so neither is timed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import Tracer, digest, read_event_log

CORES = max(1, min(4, len(os.sched_getaffinity(0))))
SETUPS = 3          # set-ups per run; setup_s is their median
XY = ["x", "y"]

#: index_rw: each round is [range, circle, knn, range_scan] x 12 (the
#: range ladder twice), then a rebuild. Selectivities and k walk fixed
#: ladders, so every run sees the same mix and only the query positions
#: depend on the seed.
P_ROWS = 100_000
RANGE_LADDER = (1e-5, 1e-3, 0.85, 1e-4, 1e-2, 1e-1)
CIRCLE_LADDER = (1e-5, 1e-3, 1e-1)
KNN_KS = (1, 10, 1000)

#: batch: spatial joins over L and R, then iterative ops over D and G.
JOIN_ROWS = 6_000
JOIN_K = 5
JOIN_PAIRS_PER_ROW = 10
ZKNN_MIN_RECALL = 0.5
KNN_SAMPLE = 200
ITER_ROWS = 2_500
DBSCAN_EPS = 6.0
DBSCAN_MIN_PTS = 5
KCORE_K = 3

SIZE_WHY = {
    "index_rw": "100k points give 128 z-buckets of ~800 rows: reads stay "
                "driver-bound (routing, pruning, planning) as they are at "
                "scale, and a rebuild fits in every round",
    "batch": "6k x 6k (3.6e7 pairs) is just above knn_join's 3.2e7-pair "
             "broadcast gate, so it takes the theta-grid path; 2.5k points "
             "and 2.5k nodes for the iterative ops, whose cost is the jobs "
             "launched while the DataFrame is built, not the data size",
}


def _median(xs):
    return statistics.median(xs) if xs else None


def _p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _checksum_action(df):
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.sum("id"),
                 F.sum(F.col("id") * F.col("id"))).first()
    return tuple(row)


def _pairs_action(df):
    pdf = df.select("l_id", "r_id").toPandas()
    return pdf["l_id"].to_numpy(), pdf["r_id"].to_numpy()


def _rows_action(df):
    return list(df.toPandas().itertuples(index=False, name=None))


class Bench:
    """One run: inputs, set-ups, the measured loop, checks and metrics."""

    def __init__(self, workload, seed, seconds, traced, work, out_dir):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.out_dir = out_dir
        self.tracer = Tracer(f"{workload}-{seed}", traced)
        self.spark = None
        self.ctx = None
        self.samples = {}       # kind -> [ms], every call of that kind
        self.pending = []       # (kind, output, error, check, span)
        self.extra_layers = {}  # separately timed calls (traced runs)

    # -- session ---------------------------------------------------------
    def _conf(self):
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self):
        import simba_spark as sb

        self.spark = sb.get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
            shuffle_partitions=2 * CORES, extra_conf=self._conf())
        self.ctx = sb.SimbaContext(self.spark)
        self.tracer.sc = self.spark.sparkContext

    def stop_session(self):
        self.tracer.sc = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- ops -------------------------------------------------------------
    def op(self, kind, build, action, check):
        """One closed-loop op: the public call, then the action on its
        result; ``check(output)`` runs after the loop."""
        with self.tracer.span(kind) as sp:
            t0 = time.perf_counter()
            try:
                with self.tracer.span("build"):
                    df = build()
                with self.tracer.span("action"):
                    out = action(df)
                err = None
            except Exception as exc:  # one failed op must not end the run
                traceback.print_exc(file=sys.stderr)
                out, err = None, f"{type(exc).__name__}: {exc}"
            ms = (time.perf_counter() - t0) * 1000.0
        self.samples.setdefault(kind, []).append(ms)
        self.pending.append((kind, out, err, check, sp))
        return out, sp

    def timed_call(self, name, fn):
        """A call timed outside any op span, for the traced run only."""
        t0 = time.perf_counter()
        out = fn()
        self.extra_layers.setdefault(name, []).append((time.perf_counter() - t0) * 1000)
        return out

    # -- set-up ----------------------------------------------------------
    def setup(self, wl):
        """``SETUPS`` set-ups, each a fresh session, the input reads and
        the workload's own preparation; the last one stays up."""
        totals, parts = [], {"session_ms": [], "read_ms": [], "prepare_ms": []}
        for i in range(SETUPS):
            if i:
                self.stop_session()
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                with self.tracer.span("session"):
                    self.start_session()
                t1 = time.perf_counter()
                with self.tracer.span("read"):
                    wl.read()
                t2 = time.perf_counter()
                with self.tracer.span("prepare"):
                    wl.prepare()
                t3 = time.perf_counter()
            totals.append(t3 - t0)
            parts["session_ms"].append((t1 - t0) * 1000)
            parts["read_ms"].append((t2 - t1) * 1000)
            parts["prepare_ms"].append((t3 - t2) * 1000)
        self.setup_totals = totals
        self.setup_parts = {k: _median(v) for k, v in parts.items()}

    # -- run -------------------------------------------------------------
    def run(self):
        wl = WORKLOADS[self.workload](self)
        t_gen = time.perf_counter()
        wl.generate()
        t_setup = time.perf_counter()
        self.setup(wl)
        rounds = []
        with self.tracer.span("measure"):
            t0 = time.perf_counter()
            while True:
                t = time.perf_counter()
                wl.round()
                rounds.append(time.perf_counter() - t)
                if time.perf_counter() - t0 >= self.seconds:
                    break
        t_stop = time.perf_counter()
        self.stop_session()

        failures = []
        for kind, out, err, check, _ in self.pending:
            reason = err
            if reason is None:
                try:
                    reason = check(out)
                except Exception as exc:  # a malformed output fails its check
                    reason = f"check raised {type(exc).__name__}: {exc}"
            if reason is not None:
                failures.append(f"{kind}: {reason}")
                print(f"perfbench: FAILED {kind}: {reason}", file=sys.stderr)
        attempted = len(self.pending)
        failed = len(failures)
        med = {k: _median(self.samples[k]) for k in wl.kinds}
        e2e = {
            "setup_s": _median(self.setup_totals),
            "op_geomean_ms": _geomean([med[k] for k in wl.kinds]),
            "round_s": _median(rounds),
        }
        detail = {
            "workload": self.workload, "seed": self.seed, "cores": CORES,
            "failures": failures[:5],
            "phases_s": {"generate": t_setup - t_gen, "setup": t0 - t_setup,
                         "measure": t_stop - t0, "check": time.perf_counter() - t_stop},
            "setups_s": self.setup_totals, "rounds_s": rounds,
            "samples_ms": {k: [round(v, 1) for v in self.samples[k]] for k in wl.kinds},
            "inputs": wl.inputs, "inputs_why": SIZE_WHY[self.workload],
            "metrics": dict(wl.op_metrics(med), setup_s=e2e["setup_s"],
                            op_fail_ratio=failed / attempted),
        }
        if self.traced:
            layers = self.layers(wl, e2e)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers["generic"].items()}
            detail["layers"] = layers["named"]
            os.makedirs(self.out_dir, exist_ok=True)
            stem = f"{self.workload}-{self.seed}.json"
            self.tracer.write(os.path.join(self.out_dir, "trace-" + stem))
            with open(os.path.join(self.out_dir, "layers-" + stem), "w") as f:
                json.dump(layers, f, indent=1, sort_keys=True)
        else:
            units = {"setup_s": "s", "op_geomean_ms": "ms", "round_s": "s"}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        return result, detail

    # -- traced run: per-layer metrics -----------------------------------
    def layers(self, wl, e2e):
        log = read_event_log(os.path.join(self.work, "eventlog"))
        dig = digest(self.tracer.spans, log)
        kids = {}
        for s in self.tracer.spans:
            kids.setdefault(s["parent"], []).append(s)

        def child(sp, name):
            """The child span ``name`` of ``sp``; None when the op raised
            before opening it."""
            if sp is None:
                return None
            return next((c for c in kids.get(sp["id"], []) if c["name"] == name), None)

        per_kind = {}
        for _, _, _, _, sp in self.pending:
            # an op that raised in its build has no action span: it counts 0
            b, a = child(sp, "build"), child(sp, "action")
            row = dict(dig[sp["id"]], **sp["attrs"])
            row["build_ms"] = dig[b["id"]]["wall_ms"] if b else 0.0
            row["action_ms"] = dig[a["id"]]["wall_ms"] if a else 0.0
            row["build_jobs"] = dig[b["id"]]["jobs"] if b else 0
            per_kind.setdefault(sp["name"], []).append(row)
        rows = [r for rs in per_kind.values() for r in rs]
        n = len(rows)
        measure = next(s for s in self.tracer.spans if s["name"] == "measure")
        generic = {
            "op.build_ms": sum(r["build_ms"] for r in rows) / n,
            "op.action_ms": sum(r["action_ms"] for r in rows) / n,
            "op.build_jobs": sum(r["build_jobs"] for r in rows) / n,
            "spark.jobs_per_op": sum(r["jobs"] for r in rows) / n,
            "spark.tasks_per_op": sum(r["tasks"] for r in rows) / n,
            "spark.executor_run_ms_per_op": sum(r["executor_run_ms"] for r in rows) / n,
            "spark.gc_ms_per_op": sum(r["gc_ms"] for r in rows) / n,
            "spark.driver_gap_ms_per_op": sum(r["driver_gap_ms"] for r in rows) / n,
            "spark.shuffle_write_bytes_per_op": sum(r["shuffle_write_bytes"] for r in rows) / n,
            "spark.input_rows_per_op": sum(r["input_rows"] for r in rows) / n,
            "spark.jobs_total": dig[measure["id"]]["jobs"],
            "setup.session_ms": self.setup_parts["session_ms"],
            "setup.read_ms": self.setup_parts["read_ms"],
            "setup.cold_s": self.setup_totals[0],
            "traced.setup_s": e2e["setup_s"],
            "traced.op_geomean_ms": e2e["op_geomean_ms"],
            "traced.round_s": e2e["round_s"],
        }
        named = {"setup.session_ms": self.setup_parts["session_ms"],
                 "setup.read_ms": self.setup_parts["read_ms"]}
        for part, kinds in wl.parts.items():
            part_rows = [r for k in kinds for r in per_kind[k]]
            named[f"spark.{part}.jobs"] = sum(r["jobs"] for r in part_rows)
            named[f"spark.{part}.driver_gap_ms"] = sum(r["driver_gap_ms"] for r in part_rows)
        named.update(wl.layer_metrics(per_kind, dig, child))
        for name, values in self.extra_layers.items():
            named[name] = _median(values)
        return {"generic": generic, "named": named, "per_kind": per_kind}


def _unit(name):
    if name.endswith("_ms") or name.endswith("_ms_per_op"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if "rows" in name:
        return "rows"
    return "count"


def _med(rows, key):
    return _median([r[key] for r in rows if key in r])


def _dir_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def _parquet_files(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


# ---------------------------------------------------------------------------

class IndexRW:
    """A persisted z-order layout over P, read by a seeded stream of
    selections and rewritten by a rebuild at the end of every round."""

    kinds = ("range", "circle", "knn", "range_scan", "rebuild")
    parts = {"index_rw": kinds}

    def __init__(self, bench):
        self.b = bench
        self.rng = np.random.default_rng([bench.seed, 1])
        self.p_path = os.path.join(bench.work, "P.parquet")
        self.lay_path = os.path.join(bench.work, "layout")
        self.layout_ratio = []

    def generate(self):
        self.pts = gen.clustered_points(self.rng, P_ROWS)
        gen.write_points(self.p_path, self.pts)
        self.inputs = {"P": {"rows": len(self.pts), "bytes": os.path.getsize(self.p_path)}}

    def read(self):
        self.raw = self.b.spark.read.parquet(self.p_path)
        self.raw.count()

    def prepare(self):
        self._build()

    def _build(self):
        ctx, tracer = self.b.ctx, self.b.tracer
        with tracer.span("create"):
            ctx.create_index(self.raw, XY, "P")
        with tracer.span("persist"):
            ctx.persist_index("P", self.lay_path)
        with tracer.span("load"):
            self.lay = ctx.load_index("P", self.lay_path)
        self.lay_files = len(_parquet_files(os.path.join(self.lay_path, "data")))

    def _box(self, frac):
        """A square around a data point holding ``frac`` of P's rows."""
        c = self.pts[self.rng.integers(len(self.pts))]
        cheb = np.max(np.abs(self.pts - c), axis=1)
        m = max(1, int(round(frac * len(self.pts))))
        h = float(np.partition(cheb, m - 1)[m - 1])
        return [float(c[0] - h), float(c[1] - h)], [float(c[0] + h), float(c[1] + h)]

    def _circle(self, frac):
        """A ball around a data point holding ``frac`` of P's rows."""
        c = self.pts[self.rng.integers(len(self.pts))]
        d2 = oracle.dist2_to(self.pts, c)
        m = max(1, int(round(frac * len(self.pts))))
        return [float(c[0]), float(c[1])], float(np.sqrt(np.partition(d2, m - 1)[m - 1]))

    def round(self):
        ctx, pts = self.b.ctx, self.pts
        for j, frac in enumerate(RANGE_LADDER * 2):
            # oracles run after the loop, so each binds its own query
            lo, hi = self._box(frac)
            self._select("range", lambda: ctx.range_query(self.lay.data, XY, lo, hi),
                         lambda lo=lo, hi=hi: oracle.range_ids(pts, lo, hi), (lo, hi))
            c, r = self._circle(CIRCLE_LADDER[j % len(CIRCLE_LADDER)])
            self._select("circle", lambda: ctx.circle_range(self.lay.data, XY, c, r),
                         lambda c=c, r=r: oracle.circle_ids(pts, c, r),
                         ([v - r for v in c], [v + r for v in c]))
            q = [float(v) for v in self.rng.uniform(0.0, gen.EXTENT, size=2)]
            k = KNN_KS[j % len(KNN_KS)]
            self._select("knn", lambda: ctx.knn(self.lay.data, XY, q, k, tiebreak="id"),
                         lambda q=q, k=k: oracle.knn_ids(pts, q, k))
            self._select("range_scan", lambda: ctx.range_query(self.raw, XY, lo, hi),
                         lambda lo=lo, hi=hi: oracle.range_ids(pts, lo, hi))
        self._rebuild()

    def _select(self, kind, build, want_ids, box=None):
        files = self.lay_files if kind != "range_scan" else 1
        out, sp = self.b.op(kind, build, _checksum_action,
                            lambda got: oracle.check_checksum(got, oracle.checksum(want_ids())))
        if sp is not None:
            sp["attrs"].update(files_total=files, rows_returned=(out or (0,))[0])
            if box is not None:
                lay = self.lay
                self.b.timed_call("layouts.layout_for_ms",
                                  lambda: self.b.ctx.layouts.layout_for(lay.data))
                ranges = self.b.timed_call("zcurve.cover_ms",
                                           lambda: lay.z_ranges_for_box(*box))
                self.b.extra_layers.setdefault("zcurve.ranges", []).append(len(ranges or []))

    def _rebuild(self):
        def build():
            self._build()
            return self.lay

        def action(lay):
            data = os.path.join(self.lay_path, "data")
            self.layout_ratio.append(_dir_bytes(data) / self.inputs["P"]["bytes"])
            # footers only: the rows the persisted files hold
            on_disk = sum(pq.read_metadata(f).num_rows for f in _parquet_files(data))
            return {"rows": sum(int(bd["count"]) for bd in lay.bounds), "rows_on_disk": on_disk,
                    "buckets": len(lay.bounds), "files": self.lay_files}

        def check(got):
            for key, where in (("rows_on_disk", "layout files"), ("rows", "layout bounds")):
                if got[key] != len(self.pts):
                    return f"{where} hold {got[key]} rows, expected {len(self.pts)}"
            return None

        out, sp = self.b.op("rebuild", build, action, check)
        if sp is not None and out is not None:
            sp["attrs"].update(buckets=out["buckets"], files_written=out["files"])

    def op_metrics(self, med):
        routed = [ms for k in ("range", "circle", "knn") for ms in self.b.samples[k]]
        return {
            "range_p50_ms": med["range"], "circle_p50_ms": med["circle"],
            "knn_p50_ms": med["knn"], "select_p90_ms": _p90(routed),
            "range_scan_p50_ms": med["range_scan"],
            "index_build_s": med["rebuild"] / 1000.0,
            "layout_bytes_ratio": _median(self.layout_ratio) if self.layout_ratio else None,
        }

    def layer_metrics(self, per_kind, dig, child):
        out = {"setup.layout_ms": self.b.setup_parts["prepare_ms"]}
        for kind in ("range", "circle", "knn", "range_scan"):
            rows = per_kind[kind]
            if kind != "range_scan":
                out[f"filters.{kind}.build_ms"] = _med(rows, "build_ms")
            pre = f"layouts.{kind}"
            out[f"{pre}.files_read_ratio"] = _median(
                [r["files_read"] / r["files_total"] for r in rows])
            out[f"{pre}.input_bytes"] = _med(rows, "input_bytes")
            out[f"{pre}.rows_read_per_row_returned"] = _median(
                [r["input_rows"] / max(1, r["rows_returned"]) for r in rows])
            out[f"{pre}.action_ms"] = _med(rows, "action_ms")
            out[f"{pre}.jobs"] = _med(rows, "jobs")
        out["filters.knn.build_jobs"] = _med(per_kind["knn"], "build_jobs")
        rebuilds = [sp for kind, _, _, _, sp in self.b.pending if kind == "rebuild"]
        for phase in ("create", "persist", "load"):
            spans = [child(child(sp, "build"), phase) for sp in rebuilds]
            ids = [s["id"] for s in spans if s is not None]
            out[f"layouts.{phase}_ms"] = _median([dig[i]["wall_ms"] for i in ids])
            out[f"layouts.{phase}.jobs"] = _median([dig[i]["jobs"] for i in ids])
        rows = per_kind["rebuild"]
        out["layouts.bytes_written"] = _med(rows, "output_bytes")
        out["layouts.files_written"] = _med(rows, "files_written")
        out["layouts.buckets"] = _med(rows, "buckets")
        return out


# ---------------------------------------------------------------------------

class SpatialJoin:
    """distance_join (grid), knn_join (default router) and zknn_join over
    two clustered point sets L and R."""

    kinds = ("distance_join", "knn_join", "zknn_join")

    def __init__(self, bench, rng):
        self.b = bench
        self.rng = rng
        self.l_path = os.path.join(bench.work, "L.parquet")
        self.r_path = os.path.join(bench.work, "R.parquet")
        self.recall = []
        self._oracle = None

    def generate(self):
        self.lpts = gen.clustered_points(self.rng, JOIN_ROWS)
        self.rpts = gen.clustered_points(self.rng, JOIN_ROWS)
        gen.write_points(self.l_path, self.lpts)
        gen.write_points(self.r_path, self.rpts)
        # radius giving ~JOIN_PAIRS_PER_ROW output pairs per left row
        sample = self.lpts[self.rng.choice(len(self.lpts), 400, replace=False)]
        d2 = np.concatenate([oracle.dist2_to(self.rpts, p) for p in sample])
        m = JOIN_PAIRS_PER_ROW * len(sample)
        self.radius = float(np.sqrt(np.partition(d2, m - 1)[m - 1]))
        self.sample = np.sort(self.rng.choice(len(self.lpts), KNN_SAMPLE, replace=False))
        return {"L": {"rows": len(self.lpts), "bytes": os.path.getsize(self.l_path)},
                "R": {"rows": len(self.rpts), "bytes": os.path.getsize(self.r_path)},
                "radius": self.radius}

    def oracle(self):
        if self._oracle is None:
            self._oracle = oracle.join_oracle(self.lpts, self.rpts, self.radius, JOIN_K)
        return self._oracle

    def read(self):
        sp = self.b.spark
        self.L = sp.read.parquet(self.l_path)
        self.R = sp.read.parquet(self.r_path)
        self.L.count()
        self.R.count()

    def round(self):
        ctx, nr = self.b.ctx, len(self.rpts)
        kw = dict(left_prefix="l_", right_prefix="r_")
        out, sp = self.b.op(
            "distance_join",
            lambda: ctx.distance_join(self.L, self.R, XY, XY, self.radius, **kw),
            _pairs_action,
            lambda got: oracle.check_pairs(*got, nr, self.oracle()[0]))
        if sp is not None:
            sp["attrs"]["pairs"] = 0 if out is None else len(out[0])
        self.b.op(
            "knn_join",
            lambda: ctx.knn_join(self.L, self.R, XY, XY, JOIN_K, left_id="id",
                                 right_tiebreak="id", **kw),
            _pairs_action,
            lambda got: oracle.check_knn_join(*got, self.oracle()[1], self.sample))
        self.b.op(
            "zknn_join",
            lambda: ctx.zknn_join(self.L, self.R, XY, XY, JOIN_K, left_id="id",
                                  right_tiebreak="id", shifts=2, **kw),
            _pairs_action, self._check_zknn)

    def _check_zknn(self, got):
        self.recall.append(oracle.zknn_recall(*got, self.oracle()[1]))
        return oracle.check_zknn(*got, self.oracle()[1], ZKNN_MIN_RECALL)

    def op_metrics(self, med):
        # recall is filled in by the checks, which run before this
        return {"distance_join_s": med["distance_join"] / 1000.0,
                "knn_join_s": med["knn_join"] / 1000.0,
                "zknn_join_s": med["zknn_join"] / 1000.0,
                "zknn_recall": _median(self.recall) if self.recall else None}

    def layer_metrics(self, per_kind):
        out = {}
        names = {"distance_join": ("build_ms", "action_ms", "jobs", "shuffle_bytes"),
                 "knn_join": ("build_ms", "build_jobs", "action_ms", "jobs", "shuffle_bytes",
                              "spill_bytes", "driver_gap_ms"),
                 "zknn_join": ("build_ms", "action_ms", "jobs", "shuffle_bytes", "spill_bytes")}
        for kind, keys in names.items():
            rows = per_kind[kind]
            for r in rows:
                r["shuffle_bytes"] = r["shuffle_write_bytes"]
            for key in keys:
                out[f"{kind}.{key}"] = _med(rows, key)
        out["distance_join.shuffle_records_per_pair"] = _median(
            [r["shuffle_records"] / max(1, r["pairs"]) for r in per_kind["distance_join"]])
        return out


class Iterative:
    """dbscan over clustered points D, then k_core, label_propagation and
    louvain(levels=2) over a planted-partition graph G with adversarial
    shapes."""

    kinds = ("dbscan", "k_core", "label_prop", "louvain")

    def __init__(self, bench, rng):
        self.b = bench
        self.rng = rng
        self.d_path = os.path.join(bench.work, "D.parquet")
        self.g_path = os.path.join(bench.work, "G.parquet")
        self.graph_passes = []
        self._want = {}

    def generate(self):
        self.pts = gen.clustered_points(self.rng, ITER_ROWS)
        self.edges = gen.planted_graph(self.rng, ITER_ROWS)
        gen.write_points(self.d_path, self.pts)
        gen.write_edges(self.g_path, self.edges)
        return {"D": {"rows": len(self.pts), "bytes": os.path.getsize(self.d_path)},
                "G": {"rows": len(self.edges), "bytes": os.path.getsize(self.g_path),
                      "nodes": int(np.unique(self.edges).size)}}

    def want(self, kind):
        """The reference answer: numpy for dbscan (its DuckDB mirror's
        recursive components take about a minute at this size; the
        benchmark's tests hold the numpy reference to the mirror), the
        DuckDB mirrors for the graph ops."""
        if kind not in self._want:
            if kind == "dbscan":
                rows = oracle.dbscan_rows(self.pts, DBSCAN_EPS, DBSCAN_MIN_PTS)
            else:
                import duckdb
                from simba_spark.operators import graph

                t = f"read_parquet('{self.g_path}')"
                sql = {"k_core": lambda: graph.k_core_sql(t, k=KCORE_K),
                       "label_prop": lambda: graph.label_propagation_sql(t),
                       "louvain": lambda: graph.louvain_sql(t, levels=2)}[kind]()
                with duckdb.connect() as con:
                    rows = con.execute(sql).fetchall()
            self._want[kind] = rows
        return self._want[kind]

    def read(self):
        sp = self.b.spark
        self.D = sp.read.parquet(self.d_path)
        self.G = sp.read.parquet(self.g_path)
        self.D.count()
        self.G.count()

    def round(self):
        from simba_spark.operators.clustering import dbscan
        from simba_spark.operators.graph import k_core, label_propagation, louvain

        ops = (
            ("dbscan", lambda: dbscan(self.D, XY, DBSCAN_EPS, DBSCAN_MIN_PTS, "id")),
            ("k_core", lambda: k_core(self.G, k=KCORE_K)),
            ("label_prop", lambda: label_propagation(self.G)),
            ("louvain", lambda: louvain(self.G, levels=2)),
        )
        for kind, build in ops:
            self.b.op(kind, build, _rows_action,
                      lambda got, kind=kind: oracle.check_rows(got, self.want(kind)))
        s = self.b.samples
        self.graph_passes.append(s["k_core"][-1] + s["label_prop"][-1] + s["louvain"][-1])

    def op_metrics(self, med):
        return {"dbscan_s": med["dbscan"] / 1000.0,
                "graph_s": _median(self.graph_passes) / 1000.0}

    def layer_metrics(self, per_kind):
        out = {}
        for key in ("build_ms", "jobs", "driver_gap_ms", "executor_run_ms"):
            out[f"clustering.dbscan.{key}"] = _med(per_kind["dbscan"], key)
        for kind in ("k_core", "label_prop", "louvain"):
            for key in ("build_ms", "action_ms", "jobs", "driver_gap_ms", "executor_run_ms"):
                out[f"graph.{kind}.{key}"] = _med(per_kind[kind], key)
        return out


class Batch:
    """Each round: the spatial joins, then the iterative ops. Touches no
    layout, so it is the control for changes to the index layers."""

    def __init__(self, bench):
        rng = np.random.default_rng([bench.seed, 2])
        self.joins = SpatialJoin(bench, rng)
        self.iterative = Iterative(bench, rng)
        self.kinds = self.joins.kinds + self.iterative.kinds
        self.parts = {"spatial_join": self.joins.kinds, "iterative": self.iterative.kinds}

    def generate(self):
        self.inputs = dict(self.joins.generate(), **self.iterative.generate())

    def read(self):
        self.joins.read()
        self.iterative.read()

    def prepare(self):
        pass

    def round(self):
        self.joins.round()
        self.iterative.round()

    def op_metrics(self, med):
        return dict(self.joins.op_metrics(med), **self.iterative.op_metrics(med))

    def layer_metrics(self, per_kind, dig, child):
        return dict(self.joins.layer_metrics(per_kind), **self.iterative.layer_metrics(per_kind))


WORKLOADS = {"index_rw": IndexRW, "batch": Batch}
