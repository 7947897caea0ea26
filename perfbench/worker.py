"""One benchmark run in one Spark session; started by ``run.py``.

Prints one JSON object as its last stdout line. See README.md for the
workloads, the metrics and what each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracles  # noqa: E402
from trace import RssSampler, Tracer, scheduler_metrics  # noqa: E402

#: Workload sizes and the kernels of a timed pass. Each kernel iteration
#: costs a few Spark jobs of a few hundred ms each on a 4-core box
#: whatever the graph size, so a timed pass holds the kernels that
#: stress what the workload is for; the traced run runs the others once
#: (see README.md).
KERNELS = ("pagerank", "wcc", "label_prop", "triangles")
WORKLOADS = {
    "repo-batch": {
        "n_files": 12000,
        "timed": ("pagerank",),
        "checkpoint": True,
        "salt_buckets": 0,
        "stream_kernel": "wcc",
        "stream_batches": 3,
        "stream_batch_size": 400,
        "stream_hubs": 0,
    },
    "rmat-skew": {
        "rmat_scale": 13,
        "timed": ("pagerank", "triangles"),
        "checkpoint": False,
        "salt_buckets": 8,
        "stream_kernel": "pagerank",
        "stream_batches": 3,
        "stream_batch_size": 400,
        "stream_hubs": 16,
    },
}
LP_ROUNDS = 3
PR_TOL = 1e-6
ALPHA = 0.85
#: scheduler accounting is per engine layer (Spark job group)
SCHED_LAYERS = ["io", "repos", "graph", "pagerank", "wcc", "label_prop", "triangles", "ingest"]


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = args.work_dir
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- operations --------------------------------------------------------
    def op(self, fn, *a, **kw):
        """One operation (kernel call, edge build or micro-batch). It
        fails if it raises (here) or its output fails its check
        (:meth:`verify`); a failed operation is counted, not fatal.
        Returns its result, or None when it raised."""
        self.attempted += 1
        if any(x is None for x in a):  # an input operation already failed
            self.failed += 1
            return None
        try:
            return fn(*a, **kw)
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{fn.__name__}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
            return None

    def verify(self, result, check_fn, *a) -> bool:
        """Check an operation's output; a failed check fails the
        operation. An operation that raised is not checked again."""
        if result is None:
            return False
        try:
            check_fn(*a)
            return True
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{check_fn.__name__}: {exc!r}")
            return False

    # -- set-up --------------------------------------------------------------
    def start_session(self) -> None:
        from hoover_spark.session import get_spark

        conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", cores=self.cores,
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    def generate(self) -> None:
        seed = self.args.seed
        cfg = self.cfg
        if "n_files" in cfg:
            self.repo = gen.repo_table(seed, cfg["n_files"])
            self.input_pdf = self.repo.table
        else:
            self.raw_rmat = gen.rmat_edges(seed, cfg["rmat_scale"])
            self.input_pdf = self.raw_rmat

    def write_input(self, pdf: pd.DataFrame, name: str) -> str:
        from hoover_spark.sources.io import write_table

        path = os.path.join(self.work, name)
        write_table(self.spark.createDataFrame(pdf), path, fmt="parquet")
        return path

    def build_expected(self) -> None:
        """Expected edges and reference results (outside set-up timing)."""
        from pyspark.sql import functions as F

        if "n_files" in self.cfg:
            # vertex ids are Spark's xxhash64 of "repo:path" (the engine's
            # documented id); the graph structure comes from the generator
            t = self.spark.createDataFrame(self.repo.table[["repo", "path"]])
            vid = t.select(F.xxhash64(F.concat("repo", F.lit(":"), "path")).alias("v"))
            row_vid = vid.toPandas()["v"].to_numpy()
            raw = gen.repo_edges(self.repo, row_vid)
        else:
            raw = self.raw_rmat
        clean = gen.clean(raw)
        self.expected_edges = set(zip(clean.src.tolist(), clean.dst.tolist()))
        g = oracles.Indexed(raw)
        self.ref_pagerank = oracles.as_series(g.vids, oracles.pagerank(g, ALPHA, PR_TOL)[0])
        self.ref_wcc = oracles.as_series(g.vids, oracles.components(g))
        self.ref_lp = oracles.as_series(g.vids, oracles.mode_label_propagation(g, LP_ROUNDS))
        self.ref_triangles = oracles.triangles(g)

        cfg = self.cfg
        boot, batches = gen.split_stream(
            self.args.seed, clean, cfg["stream_batches"], cfg["stream_batch_size"],
            hubs=cfg["stream_hubs"])
        self.stream_boot_pdf, self.stream_batch_pdfs = boot, batches
        union = oracles.Indexed(pd.concat([boot] + batches))
        if cfg["stream_kernel"] == "wcc":
            self.ref_stream = oracles.as_series(union.vids, oracles.components(union))
        else:
            # converged fixed point: the incremental state is compared
            # to it within what a 1e-6 stopping rule can leave
            rank, _ = oracles.pagerank(union, ALPHA, 1e-13)
            self.ref_stream = oracles.as_series(union.vids, rank)

    # -- the batch pass --------------------------------------------------------
    def batch_pass(self, tr: Tracer, tag: str, path: str, kernels,
                   counts: bool = False) -> dict:
        """Read the input table, build the graph's edge views and run
        ``kernels``; then check every output. ``counts`` adds the traced
        run's layer counts that need extra Spark work."""
        from hoover_spark.operators.graph import Graph
        from hoover_spark.operators.label_prop import mode_label_propagation
        from hoover_spark.operators.pagerank import pagerank
        from hoover_spark.operators.triangles import triangle_count
        from hoover_spark.operators.wcc import wcc
        from hoover_spark.plans.iteration import IterationLoop
        from hoover_spark.sources.io import read_table
        from hoover_spark.sources.repos import ref_edges

        spark = self.spark
        op = self.op
        ck = os.path.join(self.work, f"ck-{tag}") if self.cfg["checkpoint"] else None
        out: dict = {"loops": {}}

        def loop(kernel: str, max_iterations: int) -> IterationLoop:
            lp = IterationLoop(spark, kernel=kernel, checkpoint_dir=ck,
                               max_iterations=max_iterations)
            out["loops"][kernel] = lp
            return lp

        def build_edges():
            with tr.span("io.read_table", "io") as s:
                table = read_table(spark, path, fmt="parquet").persist()
                table.count()
            out["io.read_table_s"] = s["s"]
            if "n_files" in self.cfg:
                with tr.span("repos.extract", "repos") as s:
                    edges = ref_edges(table).persist()
                    out["repos.edges_out"] = edges.count()
                out["repos.extract_s"] = s["s"]
            else:
                edges = table
                out["repos.edges_out"], out["repos.extract_s"] = 0, 0.0
            g = Graph(edges, num_partitions=self.nparts)
            with tr.span("graph.clean_edges", "graph") as s:
                g.clean_edges().count()
            out["graph.clean_edges_s"] = s["s"]
            with tr.span("graph.sym_edges", "graph") as s:
                out["graph.sym_rows"] = g.sym_edges().count()
            out["graph.sym_edges_s"] = s["s"]
            if edges is not table:
                edges.unpersist()
            table.unpersist()
            return g

        def run_kernel(kernel: str, g):
            if kernel == "pagerank":
                return op(pagerank, g, spark=spark, alpha=ALPHA, tol=PR_TOL,
                          salt_buckets=self.cfg["salt_buckets"],
                          loop=loop("pagerank", 200))
            if kernel == "wcc":
                return op(wcc, g, spark=spark, loop=loop("wcc", 100))
            if kernel == "label_prop":
                return op(mode_label_propagation, g, n_iterations=LP_ROUNDS,
                          loop=loop("label_prop", LP_ROUNDS))
            return op(triangle_count, g)

        results = {}
        with tr.span("pipeline") as pipe:
            with tr.span("edges") as s:
                g = op(build_edges)
            out["edges_s"] = s["s"]
            for kernel in kernels:
                with tr.span(kernel, kernel) as s:
                    results[kernel] = run_kernel(kernel, g)
                out[f"{kernel}_s"] = s["s"]
        out["pipeline_s"] = pipe["s"]

        # checks and per-layer counts, outside every timed span
        self.verify(g, self.check_edges, g)
        for kernel, res in results.items():
            if kernel == "pagerank":
                self.verify(res, self.check_pagerank, res)
            elif kernel == "wcc":
                self.verify(res, self.check_labels, res, self.ref_wcc, "wcc")
            elif kernel == "label_prop":
                self.verify(res, self.check_labels, res, self.ref_lp, "label_prop")
            else:
                self.verify(res, self.check_triangles, res)
        if tr.enabled:
            writes = nbytes = 0
            if ck and os.path.isdir(ck):
                for root, dirs, files in os.walk(ck):
                    writes += sum(1 for d in dirs if d.startswith("iter="))
                    nbytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            out["iteration.checkpoint_writes"] = writes
            out["iteration.checkpoint_bytes"] = nbytes
        if g is not None:
            if counts:
                self.layer_counts(g, out, path)
            g.unpersist()
        if ck:
            shutil.rmtree(ck, ignore_errors=True)
        return out

    def layer_counts(self, g, out: dict, path: str) -> None:
        """Traced run only: counts that need extra Spark work."""
        from pyspark.sql import functions as F

        from hoover_spark.operators.triangles import oriented_edges
        from hoover_spark.sources.io import read_table
        from hoover_spark.sources.repos import extract_refs

        if "n_files" in self.cfg:
            table = read_table(self.spark, path, fmt="parquet")
            out["repos.refs_out"] = extract_refs(table).count()
        else:
            out["repos.refs_out"] = 0
        sizes = (g.sym_edges().groupBy(F.spark_partition_id().alias("p")).count()
                 .toPandas()["count"].to_numpy())
        sizes = np.concatenate([sizes, np.zeros(max(self.nparts - len(sizes), 0))])
        out["graph.partition_skew"] = float(sizes.max() / max(np.median(sizes), 1.0))
        t0 = time.perf_counter()
        out["triangles.oriented_rows"] = oriented_edges(g).count()
        out["triangles.orient_s"] = time.perf_counter() - t0

    # -- checks -------------------------------------------------------------------
    def check_edges(self, g) -> None:
        got = g.clean_edges().toPandas()
        check(len(got) == len(self.expected_edges)
              and set(zip(got.src.tolist(), got.dst.tolist())) == self.expected_edges,
              f"edge set differs: {len(got)} vs {len(self.expected_edges)} expected")

    def check_pagerank(self, pr) -> None:
        got = pr.toPandas().set_index("vid")["rank"].sort_index()
        check(got.index.equals(self.ref_pagerank.index), "pagerank vertex set differs")
        check(np.allclose(got.to_numpy(), self.ref_pagerank.to_numpy(), rtol=0, atol=1e-6),
              f"pagerank differs by {np.abs(got - self.ref_pagerank).max():.3g}")
        check(abs(got.sum() - 1.0) < 1e-9, f"ranks sum to {got.sum()!r}")

    def check_labels(self, df, ref: pd.Series, what: str) -> None:
        got = df.toPandas().set_index("vid")["label"].sort_index()
        check(got.index.equals(ref.index), f"{what} vertex set differs")
        bad = int((got.to_numpy() != ref.to_numpy()).sum())
        check(bad == 0, f"{what}: {bad} labels differ")

    def check_triangles(self, n: int) -> None:
        check(n == self.ref_triangles, f"triangles {n} vs {self.ref_triangles}")

    def check_stream(self, state, fresh: int) -> None:
        held = sum(len(b) for b in self.stream_batch_pdfs)
        check(fresh == held, f"stream applied {fresh} fresh edges of {held}")
        kernel = self.cfg["stream_kernel"]
        df = state.state().toPandas()
        if kernel == "wcc":
            got = df.set_index("vid")["label"].sort_index()
            check(got.index.equals(self.ref_stream.index), "stream vertex set differs")
            bad = int((got.to_numpy() != self.ref_stream.to_numpy()).sum())
            check(bad == 0, f"stream wcc: {bad} labels differ from a batch run")
        else:
            got = df.set_index("vid")["rank"].sort_index()
            check(got.index.equals(self.ref_stream.index), "stream vertex set differs")
            err = float(np.abs(got.to_numpy() - self.ref_stream.to_numpy()).max())
            # stopping at max|Δ| < tol leaves at most ~tol·α/(1-α) per vertex
            check(err < 10 * PR_TOL, f"stream pagerank off the fixed point by {err:.3g}")
            check(abs(got.sum() - 1.0) < 1e-6, f"stream ranks sum to {got.sum()!r}")

    # -- the stream ----------------------------------------------------------------
    def stream(self, tr: Tracer, tag: str) -> dict:
        from hoover_spark.streaming.ingest import IncrementalGraphState

        spark = self.spark
        cfg = self.cfg
        wd = os.path.join(self.work, f"stream-{tag}")
        boot = spark.createDataFrame(self.stream_boot_pdf)
        batches = [spark.createDataFrame(b) for b in self.stream_batch_pdfs]
        state = IncrementalGraphState(spark, wd, kernel=cfg["stream_kernel"],
                                      num_partitions=self.nparts)
        out: dict = {}
        failed_before = self.failed
        with tr.span("ingest.bootstrap", "ingest") as s:
            self.op(state.apply_batch, boot, 0)
        out["ingest.bootstrap_s"] = s["s"]
        walls = []
        for k, b in enumerate(batches, start=1):
            with tr.span("ingest.batch", "ingest") as s:
                self.op(state.apply_batch, b, k)
            walls.append(s["s"])
        out["ingest.batch_s_p50"] = statistics.median(walls)
        with open(state.metrics_path) as f:
            rows = [json.loads(line) for line in f]
        fresh = sum(r["new_edges"] for r in rows[1:])
        out["ingest.edges_per_s"] = fresh / sum(walls)
        if self.failed == failed_before:
            # the end state is the last micro-batch's output
            self.verify(state, self.check_stream, state, fresh)
        third = max(len(walls) // 3, 1)
        out["ingest.batch_s_growth"] = (statistics.median(walls[-third:])
                                        / statistics.median(walls[:third]))
        out["ingest.base_build_s"] = sum(r["graph_view"]["base_build_s"] for r in rows)
        out["ingest.reconverge_iters"] = sum(r["reconverge_iters"] for r in rows[1:])
        out["ingest.bucket_dirs_scanned"] = sum(
            (r["dedup_scan"] or {}).get("bucket_dirs_scanned", 0) for r in rows[1:])
        out["ingest.delta_sym_rows"] = rows[-1]["graph_view"]["delta_sym_rows"]
        out["ingest.compactions"] = state.compactions
        out["ingest.state_write_rows"] = sum(
            (r["state_write"] or {}).get("rows", 0) for r in rows[1:])
        shutil.rmtree(wd, ignore_errors=True)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--trace-file", help="where the traced run writes its spans")
    args = ap.parse_args()

    run = Run(args)
    timed = run.cfg["timed"]
    rss = RssSampler()
    # set-up: session, input, and an untimed warm-up pass that takes the
    # JVM's JIT and Spark's code generation out of the timed passes
    t_setup = time.perf_counter()
    with Tracer(False).span("session") as s:
        run.start_session()
    tr = Tracer(bool(args.trace), run.spark)
    tr.count("session.start_s", s["s"])
    run.generate()
    with tr.span("io.write_table", "io") as s:
        path = run.write_input(run.input_pdf, "input.parquet")
    tr.count("io.write_table_s", s["s"])
    setup_s = time.perf_counter() - t_setup
    run.build_expected()  # the oracles are not set-up
    t_warm = time.perf_counter()
    run.batch_pass(Tracer(False), "w", path, timed)
    setup_s += time.perf_counter() - t_warm

    passes, peaks = [], []
    t0 = time.perf_counter()
    while True:
        rss.reset()
        passes.append(run.batch_pass(tr, f"t{len(passes)}", path, timed))
        peaks.append(rss.peak_mb())
        print("pass", {k: round(v, 3) for k, v in passes[-1].items() if k.endswith("_s")},
              file=sys.stderr, flush=True)
        if time.perf_counter() - t0 >= args.seconds:
            break

    def med(key, among=passes):
        return statistics.median(p[key] for p in among)

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pagerank_s": (med("pagerank_s"), "s"),
            "pipeline_s": (med("pipeline_s"), "s"),
        }
    else:
        # the kernels outside the timed pass, once, with the layer counts
        extra = run.batch_pass(tr, "x", path, [k for k in KERNELS if k not in timed],
                               counts=True)
        # the stream is measured in the traced run only; see README.md
        stream = run.stream(tr, "s")
        last = passes[-1]
        layer = dict(tr.counters)
        for key in ("io.read_table_s", "repos.extract_s", "graph.clean_edges_s",
                    "graph.sym_edges_s"):
            layer[key] = med(key)
        for key in ("repos.edges_out", "graph.sym_rows"):
            layer[key] = last[key]
        for key in ("repos.refs_out", "graph.partition_skew", "triangles.oriented_rows",
                    "triangles.orient_s"):
            layer[key] = extra[key]
        for key in ("iteration.checkpoint_writes", "iteration.checkpoint_bytes"):
            layer[key] = last[key] + extra[key]
        layer["triangles.count"] = run.ref_triangles
        loops = {**extra["loops"], **last["loops"]}
        for kernel in ("pagerank", "wcc", "label_prop"):
            m = loops[kernel].metrics
            layer[f"{kernel}.iterations"] = len(m)
            layer[f"{kernel}.rows_shuffled"] = sum(r["rows_shuffled"] for r in m)
            layer[f"{kernel}.iter_ms_p50"] = statistics.median(r["wall_ms"] for r in m)
        layer.update({k: v for k, v in stream.items() if k.startswith("ingest.")})
        layer["trace.pipeline_s"] = med("pipeline_s")
        layer["edges.wall_s"] = med("edges_s")
        for kernel in ("wcc", "label_prop", "triangles"):
            layer[f"{kernel}.wall_s"] = med(f"{kernel}_s", passes if kernel in timed else [extra])
        layer["process.peak_rss_mb"] = statistics.median(peaks)
        metrics = {k: (v, UNITS.get(k.rsplit(".", 1)[-1], UNITS.get(k, "count")))
                   for k, v in layer.items()}

    run.spark.stop()
    rss.close()
    if args.trace:
        walls_by_layer = {l: tr.layer_wall(l) for l in SCHED_LAYERS}
        sched = scheduler_metrics(run.event_dir, SCHED_LAYERS, walls_by_layer, run.cores)
        for k, v in sched.items():
            metrics[k] = (v, UNITS.get(k.rsplit(".", 1)[-1], "count"))
        if args.trace_file:
            tr.dump(args.trace_file)

    for e in run.errors:
        print("FAILED:", e, file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


UNITS = {
    "start_s": "s", "write_table_s": "s", "read_table_s": "s", "extract_s": "s",
    "clean_edges_s": "s", "sym_edges_s": "s", "orient_s": "s", "bootstrap_s": "s",
    "base_build_s": "s", "pipeline_s": "s", "iter_ms_p50": "ms",
    "shuffle_write_mb": "MB", "peak_rss_mb": "MB", "spill_mb": "MB", "checkpoint_bytes": "bytes",
    "partition_skew": "ratio", "batch_s_growth": "ratio", "core_util": "ratio",
    "batch_s_p50": "s", "edges_per_s": "edges/s", "wall_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
