#!/usr/bin/env python3
"""Benchmark of the gpq_tiles_spark engine: archive build time, tile-read
latency and join time, end to end and layer by layer.

    python3 perfbench/run.py --workload polygons_z14 --seed 1 --seconds 10 \
        --trace 0

runs one workload at local[nproc] in this single driver process, as a
closed loop with one client: each pass starts after the previous one has
returned. It prints a human-readable report, then as its last line one
JSON object {"correct", "attempted", "failed", "metrics"}. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the traced layer
prefixes and reports the per-layer metrics. ``--smoke`` shrinks every
input to a few percent (and allows ``--workload all``) for a quick check.

Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout: cached inputs, archives, Spark scratch and event logs, and one
full result record per run in ``results/``.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("docs_mixed_z10", "polygons_z14", "points_props_z12",
             "spatial_join")
MIN_PASSES = 2
N_READS = 4000

# end-to-end metrics of the JSON result: (name, unit)
# (job_s, the wall time, is reported but not gated: over ten seeds its
# quartiles spread 8-32% of the median on a shared 4-core host, the CPU
# time's mostly 6-13%)
END_TO_END = (("setup_s", "s"), ("job_cpu_s", "s"))
LAYERS = ("scan", "extract", "props", "fanout", "encode", "sink",
          "joins.pip", "joins.knn")
LAYER_FIELDS = (("wall_s", "s"), ("cpu_s", "s"), ("stage.run_s", "s"),
                ("stage.cpu_s", "s"), ("stage.gc_s", "s"),
                ("stage.tasks", "count"), ("jobs.count", "count"))
PER_LAYER = tuple(
    [(f"{layer}.{f}", u) for layer in LAYERS for f, u in LAYER_FIELDS] + [
        ("session.start_s", "s"), ("session.warmup_s", "s"),
        ("process.peak_rss_mb", "MB"),
        ("extract.features_out", "count"), ("extract.yield", "ratio"),
        ("partitioning.partitions_in", "count"),
        ("partitioning.partitions_out", "count"),
        ("fanout.records_out", "count"),
        ("fanout.records_per_feature", "ratio"),
        ("fanout.batch_us_per_feature", "us"),
        ("encode.tiles_out", "count"),
        ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
        ("shuffle.bytes_per_record", "bytes"),
        ("shuffle.spill_bytes", "bytes"),
        ("sink.dedup_ratio", "ratio"), ("sink.directory_bytes", "bytes"),
        ("sink.leaf_directories", "count"), ("sink.archive_bytes", "bytes"),
        ("reader.p50_ms", "ms"), ("reader.p99_ms", "ms"),
        ("reader.leaf_decodes_per_1k", "count"),
        ("joins.pip.rows_out", "count"),
        ("kernels.fanout_encoded.us_per_feature", "us"),
        ("kernels.simplify.ns_per_vertex", "ns"),
        ("kernels.clip.ns_per_vertex", "ns"),
        ("kernels.mvt_fast.encode.ns_per_record", "ns"),
        ("kernels.mvt_fast.wrap.ns_per_record", "ns"),
        ("kernels.pmtiles.compress.mb_per_s", "MB/s"),
        ("kernels.pmtiles.dir.ns_per_entry", "ns"),
        ("kernels.pip.ns_per_point_edge", "ns"),
        ("kernels.cells.grid_disk.ns_per_cell", "ns"),
        ("trace.job_s", "s"), ("trace.untraced_job_s", "s"),
        ("trace.overhead_s", "s"), ("trace.driver_s", "s"),
    ])


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for a quick self-check")
    args = ap.parse_args(argv)
    if args.workload == "all" and not args.smoke:
        ap.error("--workload all is only available with --smoke")
    return args


def prepare_environment(work: str, trace: bool) -> str | None:
    """Keep every file the run and Spark write inside the checkout.
    Returns the event-log directory of a traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                          "--conf spark.ui.showConsoleProgress=false "
                          "pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if not trace:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
        return None
    ev = os.path.join(work, "eventlog", f"run-{os.getpid()}")
    shutil.rmtree(ev, ignore_errors=True)
    os.environ["SPARK_GRAFT_EVENTLOG"] = ev
    return ev


def start_spark(app: str, cores: int):
    from gpq_tiles_spark.session import get_spark

    spark = get_spark(app, cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def wait_children(timeout: float = 30.0) -> int:
    """Wait for every descendant process to end; returns how many remain."""
    from perfbench.probes import tree_stats

    deadline = time.monotonic() + timeout
    while True:
        left = tree_stats(include_root=False)[2]
        if left == 0 or time.monotonic() > deadline:
            return left
        time.sleep(0.2)


def median(values) -> float:
    return float(statistics.median(values))


class Run:
    """One workload at one seed: set-up, measured passes, checks."""

    def __init__(self, name: str, args, work: str, spark, start_s: float):
        from perfbench import inputs, workloads as W

        self.name = name
        self.args = args
        self.work = work
        self.spark = spark
        self.size = W.SIZES[name]["smoke" if args.smoke else "full"]
        key = W.input_key(name, self.size, args.seed)
        self.key = key
        self.inp, self.gen_s, self.gen_cached = inputs.cached(
            os.path.join(work, "inputs"), key,
            W.make_input(name, self.size, args.seed))
        self.out = os.path.join(work, "out", name)
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.wl = (W.Join(name, self.inp) if name == "spatial_join"
                   else W.Tiling(name, self.inp))
        self.start_s = start_s
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.first_sha: str | None = None
        self.archive: str | None = None
        self.n_pass = 0

    # -- one pass of the workload's job --------------------------------
    def one_pass(self) -> dict:
        """Run the job once; returns its wall/CPU times and outputs."""
        from perfbench.probes import tree_stats

        self.n_pass += 1
        cpu0 = tree_stats()[0]
        t0 = time.perf_counter()
        rec: dict = {}
        if self.name == "spatial_join":
            self.wl.pip(self.spark, os.path.join(self.out, "pip"))
            t1 = time.perf_counter()
            self.wl.knn(self.spark, os.path.join(self.out, "knn"))
            rec["pip_s"] = t1 - t0
            rec["knn_s"] = time.perf_counter() - t1
        else:
            path = os.path.join(self.out, f"pass{self.n_pass}.pmtiles")
            self.wl.run_pass(self.spark, path)
            rec["convert_s"] = time.perf_counter() - t0
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_stats()[0] - cpu0
        self.attempted += 1
        if self.name != "spatial_join":
            self.check_sha(path)
            rec["archive_bytes"] = os.path.getsize(path)
            if self.archive:
                os.remove(self.archive)
            self.archive = path
        return rec

    def check_sha(self, path: str) -> None:
        """Every archive at a seed must equal the first one, in this run
        and in every earlier run of this checkout at the same seed."""
        from perfbench.workloads import sha256_file

        sha = sha256_file(path)
        if self.first_sha is None:
            self.first_sha = sha
            ref = os.path.join(self.work, "sha256", self.key)
            os.makedirs(os.path.dirname(ref), exist_ok=True)
            if os.path.exists(ref):
                with open(ref) as f:
                    self.attempted += 1
                    if f.read().strip() != sha:
                        self.failed += 1
                        self.notes.append("archive differs from an earlier "
                                          "run at this seed")
            else:
                with open(ref, "w") as f:
                    f.write(sha)
        elif sha != self.first_sha:
            self.failed += 1
            self.notes.append(f"pass {self.n_pass}: archive sha256 differs")

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.one_pass()
        self.warmup_s = time.perf_counter() - t0
        return self.start_s + self.warmup_s

    def measure(self) -> list[dict]:
        from perfbench.probes import RssSampler

        recs = []
        deadline = time.perf_counter() + self.args.seconds
        with RssSampler() as rss:
            while (len(recs) < MIN_PASSES
                   or time.perf_counter() < deadline):
                recs.append(self.one_pass())
        self.peak_rss_mb = rss.peak / 1e6
        return recs

    # -- checks ---------------------------------------------------------
    def checks(self) -> dict:
        import numpy as np

        from perfbench import workloads as W

        rng = np.random.default_rng(self.args.seed)
        if self.name == "spatial_join":
            a, f = self.wl.check(os.path.join(self.out, "pip"),
                                 os.path.join(self.out, "knn"), rng)
            self.attempted += a
            self.failed += f
            if f:
                self.notes.append(f"{f} of {a} join checks mismatched")
            return {}
        reads = W.tile_reads(self.archive, N_READS, rng)
        self.attempted += reads["reads"]
        self.failed += reads["missing"]
        a, f = self.wl.check_tiles(self.spark, self.archive, rng)
        self.attempted += a
        self.failed += f
        if f:
            self.notes.append(f"{f} of {a} sampled tiles differ from "
                              "encode_single_tile")
        if self.wl.ring_rotations:
            self.notes.append(
                f"{self.wl.ring_rotations} of {a} sampled tiles equal "
                "encode_single_tile only up to the starting vertex of a "
                "polygon ring (interior tiles of large polygons)")
        return reads


def run_plain(run: Run) -> dict:
    """--trace 0: end-to-end metrics."""
    setup_s = run.setup()
    recs = run.measure()
    reads = run.checks()
    e2e = {
        "setup_s": setup_s,
        "job_cpu_s": median(r["cpu_s"] for r in recs),
    }
    n = "median of passes " + " ".join(f"{r['wall_s']:.3f}" for r in recs)
    table = {
        "setup_s": (setup_s, f"session start {run.start_s:.3f} s + "
                    f"warm-up pass {run.warmup_s:.3f} s"),
        "job_s": (median(r["wall_s"] for r in recs), n),
        "job_cpu_s": (e2e["job_cpu_s"], "process tree, median of passes "
                      + " ".join(f"{r['cpu_s']:.2f}" for r in recs)),
        "gen_s": (run.gen_s, "input cached" if run.gen_cached
                  else "input generated"),
        "peak_rss_mb": (run.peak_rss_mb, "JVM + Python workers, sampled"),
        "error_rate": (None, ""),
    }
    if run.name == "spatial_join":
        table["pip_s"] = (median(r["pip_s"] for r in recs), n)
        table["knn_s"] = (median(r["knn_s"] for r in recs), n)
    else:
        reads_n = f"{reads['reads']} reads on one open reader"
        table["convert_s"] = (median(r["convert_s"] for r in recs), n)
        table["archive_bytes"] = (recs[-1]["archive_bytes"], "")
        table["tile_read_p50_ms"] = (reads["p50_ms"], reads_n)
        table["tile_read_p99_ms"] = (reads["p99_ms"], reads_n)
    return {"metrics": e2e, "table": table}


def run_traced(run: Run, eventlog: str) -> dict:
    """--trace 1: layer prefixes under job groups, kernels, reader."""
    from gpq_tiles_spark.pipeline import PipelineMetrics

    from perfbench import kernels as K
    from perfbench import workloads as W
    from perfbench.probes import RssSampler, tree_stats

    sc = run.spark.sparkContext
    out = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    setup_s = run.setup()
    out["session.start_s"] = run.start_s
    out["session.warmup_s"] = run.warmup_s
    report: dict = {"setup_s": setup_s}

    layout = None
    if run.name != "spatial_join":
        sc.setJobGroup("layout", "layout")
        layout = run.wl.layout(run.spark)
        report["encode.layout"] = layout
        feats = run.wl.features(run.spark)
        from gpq_tiles_spark.partitioning import spread_small_input

        out["partitioning.partitions_in"] = feats.rdd.getNumPartitions()
        out["partitioning.partitions_out"] = (
            spread_small_input(feats).rdd.getNumPartitions())

    walls: dict[str, list[float]] = {}
    cpus: dict[str, list[float]] = {}
    counters: dict[str, dict] = {}
    untraced: list[float] = []
    traced: list[float] = []
    iterations = 0
    deadline = time.perf_counter() + run.args.seconds
    with RssSampler() as rss:
        while iterations < 1 or time.perf_counter() < deadline:
            iterations += 1
            sc.setJobGroup("untraced", "untraced")
            before = run.one_pass()["wall_s"]
            if run.name == "spatial_join":
                steps = [
                    ("joins.pip", lambda: run.wl.pip(
                        run.spark, os.path.join(run.out, "pip"))),
                    ("joins.knn", lambda: run.wl.knn(
                        run.spark, os.path.join(run.out, "knn"))),
                ]
            else:
                def metrics(layer):
                    m = PipelineMetrics.create(run.spark)
                    counters[layer] = m
                    return m

                path = os.path.join(run.out, "traced.pmtiles")
                steps = run.wl.prefixes(run.spark, layout, path, metrics)
            for layer, fn in steps:
                sc.setJobGroup(f"{run.name}:{layer}", layer)
                cpu0 = tree_stats()[0]
                t0 = time.perf_counter()
                res = fn()
                walls.setdefault(layer, []).append(time.perf_counter() - t0)
                cpus.setdefault(layer, []).append(tree_stats()[0] - cpu0)
                if layer == "sink":
                    report["sink_stats"] = res
                    run.attempted += 1
                    run.check_sha(path)
            traced.append(sum(walls[layer][-1] for layer in (
                ("joins.pip", "joins.knn") if run.name == "spatial_join"
                else ("sink",))))
            # untraced passes on both sides of the traced one, so the
            # overhead is not biased by a JVM still warming up
            sc.setJobGroup("untraced", "untraced")
            untraced.append((before + run.one_pass()["wall_s"]) / 2)
    out["process.peak_rss_mb"] = rss.peak / 1e6
    sc.setJobGroup("checks", "checks")
    order = [layer for layer, _ in steps]
    report["iterations"] = iterations
    report["layers"] = order

    if run.name == "spatial_join":
        import pyarrow.parquet as pq

        out["joins.pip.rows_out"] = pq.read_table(
            os.path.join(run.out, "pip")).num_rows
        out.update(K.join_kernels(run.inp, W.KNN_ZOOM))
        run.checks()
    else:
        m_fan = counters["fanout"].as_dict()
        m_enc = counters["encode"].as_dict()
        stats = report.pop("sink_stats")
        out["fanout.records_out"] = m_fan["records_out"]
        out["fanout.records_per_feature"] = (
            m_fan["records_out"] / max(m_fan["features_in"], 1))
        out["encode.tiles_out"] = m_enc["tiles_out"]
        out["sink.dedup_ratio"] = (stats["unique_blobs"]
                                   / max(stats["tiles"], 1))
        facts = W.archive_facts(path)
        out["sink.directory_bytes"] = facts["directory_bytes"]
        out["sink.leaf_directories"] = facts["leaf_directories"]
        out["sink.archive_bytes"] = os.path.getsize(path)
        if run.name == "docs_mixed_z10":
            out["extract.features_out"] = m_fan["features_in"]
            out["extract.yield"] = (m_fan["features_in"]
                                    / max(_geo_spans(run.inp), 1))
        reads = run.checks()
        out["reader.p50_ms"] = reads["p50_ms"]
        out["reader.p99_ms"] = reads["p99_ms"]
        out["reader.leaf_decodes_per_1k"] = reads["leaf_decodes_per_1k"]
        out.update(K.tiling_kernels(run.name, run.inp, run.wl.config, path))

    med_wall = {layer: median(walls[layer]) for layer in order}
    med_cpu = {layer: median(cpus[layer]) for layer in order}
    spans = {"order": order, "wall": med_wall, "cpu": med_cpu,
             "iterations": iterations, "prefix": run.name != "spatial_join",
             "workload": run.name}
    out["trace.job_s"] = median(traced)
    out["trace.untraced_job_s"] = median(untraced)
    out["trace.overhead_s"] = out["trace.job_s"] - out["trace.untraced_job_s"]
    return {"metrics": out, "report": report, "spans": spans}


def finish_traced(result: dict, eventlog: str) -> None:
    """Fold the event log (complete once the session has stopped) into
    the per-layer metrics: self time = prefix minus the previous prefix."""
    from perfbench.eventlog import FIELDS, group_totals

    out = result["metrics"]
    p = result.pop("spans")
    totals = {k.split(":", 1)[1]: v for k, v in group_totals(eventlog).items()
              if k.startswith(p["workload"] + ":")}
    zero = dict.fromkeys(FIELDS, 0.0)
    prev_wall = prev_cpu = 0.0
    prev = zero
    for layer in p["order"]:
        g = {k: v / p["iterations"] for k, v in
             totals.get(layer, zero).items()}
        self_g = {k: g[k] - prev[k] for k in FIELDS}
        out[f"{layer}.wall_s"] = p["wall"][layer] - prev_wall
        out[f"{layer}.cpu_s"] = p["cpu"][layer] - prev_cpu
        out[f"{layer}.stage.run_s"] = self_g["run_s"]
        out[f"{layer}.stage.cpu_s"] = self_g["cpu_s"]
        out[f"{layer}.stage.gc_s"] = self_g["gc_s"]
        out[f"{layer}.stage.tasks"] = self_g["tasks"]
        out[f"{layer}.jobs.count"] = self_g["jobs"]
        if layer == "encode":  # its self part holds the one tile shuffle
            out["shuffle.write_bytes"] = self_g["shuffle_write_bytes"]
            out["shuffle.read_bytes"] = self_g["shuffle_read_bytes"]
            out["shuffle.spill_bytes"] = self_g["spill_bytes"]
            out["shuffle.bytes_per_record"] = (
                self_g["shuffle_write_bytes"]
                / max(self_g["shuffle_write_records"], 1))
        if p["prefix"]:
            prev_wall, prev_cpu, prev = p["wall"][layer], p["cpu"][layer], g
    # the traced job is the last prefix (tiling) or both join spans
    job_layers = p["order"][-1:] if p["prefix"] else p["order"]
    out["trace.driver_s"] = out["trace.job_s"] - sum(
        totals.get(layer, zero)["job_wall_s"] for layer in job_layers
    ) / p["iterations"]
    total = sum(out[f"{layer}.wall_s"] for layer in p["order"])
    result["report"]["layer_self_sum_s"] = total
    result["report"]["remainder_s"] = out["trace.job_s"] - total


def _geo_spans(inp: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spans = pq.read_table(os.path.join(inp, "docs"),
                          columns=["spans"]).column("spans")
    kinds = pc.struct_field(pc.list_flatten(spans), "kind")
    return int(pc.sum(pc.equal(kinds, "geo")).as_py())


# the end-to-end metrics every workload reports in the human report
REPORT_UNITS = (("setup_s", "s"), ("gen_s", "s"), ("job_s", "s"),
                ("job_cpu_s", "s"), ("convert_s", "s"),
                ("archive_bytes", "bytes"), ("peak_rss_mb", "MB"),
                ("tile_read_p50_ms", "ms"), ("tile_read_p99_ms", "ms"),
                ("pip_s", "s"), ("knn_s", "s"), ("error_rate", "ratio"))


def print_report(name: str, result: dict, telltale: dict, units: dict) -> None:
    print(f"== {name}  seed={telltale['seed']}  trace={telltale['trace']}  "
          f"local[{telltale['nproc']}]  head={telltale['git_head'][:12]}")
    busy = "  BUSY HOST" if telltale["busy"] else ""
    print(f"   host start {telltale['host_start']}  end "
          f"{telltale['host_end']}{busy}")
    rate = (f"{result['error_rate']:.6g}",
            f"{result['failed']} failed of {result['attempted']} operations")
    if "table" in result:
        for key, unit in REPORT_UNITS:
            value, how = result["table"].get(key, (None, "not run here"))
            text = (rate[0] if key == "error_rate" else
                    "n/a" if value is None else f"{value:.6g}")
            print(f"   {key:<22} {text:>12} {unit:<6} "
                  f"{rate[1] if key == 'error_rate' else how}")
    else:
        m = result["metrics"]
        fields = [f for f, _u in LAYER_FIELDS]
        print(f"   {'layer (self)':<12}" + "".join(f"{f:>13}" for f in fields))
        for layer in result["report"]["layers"]:
            print(f"   {layer:<12}" + "".join(
                f"{m[f'{layer}.{f}']:>13.4g}" for f in fields))
        print(f"   layers sum {result['report']['layer_self_sum_s']:.3f} s "
              f"+ remainder {result['report']['remainder_s']:.3f} s = "
              f"traced job {m['trace.job_s']:.3f} s (untraced "
              f"{m['trace.untraced_job_s']:.3f} s, tracing overhead "
              f"{m['trace.overhead_s']:.3f} s); time with no Spark job "
              f"running {m['trace.driver_s']:.3f} s")
        for k, v in result["report"].items():
            if k not in ("layers", "layer_self_sum_s", "remainder_s"):
                print(f"   {k:<40} {v}")
        table_keys = {f"{layer}.{f}" for layer in LAYERS for f in fields}
        for k, v in m.items():
            if k not in table_keys:
                print(f"   {k:<40} {v:.6g} {units[k]}")
        print(f"   {'error_rate':<40} {rate[0]} ratio ({rate[1]})")
    for note in result["notes"]:
        print(f"   NOTE {note}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gpq_tiles_spark")):
        print(f"perfbench: no gpq_tiles_spark package beside {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    eventlog = prepare_environment(work, bool(args.trace))

    from perfbench import probes

    nproc = len(os.sched_getaffinity(0))
    host_start = probes.host_snapshot()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    units = dict(END_TO_END if not args.trace else PER_LAYER)
    results = []
    t0 = time.perf_counter()
    spark = start_spark(f"perfbench-{args.workload}", nproc)
    start_s = time.perf_counter() - t0
    try:
        for name in names:
            run = Run(name, args, work, spark, start_s)
            res = (run_traced(run, eventlog) if args.trace
                   else run_plain(run))
            res.update(attempted=run.attempted, failed=run.failed,
                       notes=run.notes)
            results.append((name, res))
    finally:
        stop_spark(spark)
    left = wait_children()
    if eventlog:
        for _name, res in results:
            finish_traced(res, eventlog)
        shutil.rmtree(eventlog, ignore_errors=True)
    host_end = probes.host_snapshot()
    import numpy
    import pyarrow
    import pyspark

    telltale = {
        "seed": args.seed, "trace": args.trace, "nproc": nproc,
        "git_head": probes.git_head(ROOT),
        "versions": {"pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__},
        "host_start": host_start, "host_end": host_end,
        "busy": probes.host_busy(host_start) or probes.host_busy(host_end),
        "leftover_processes": left,
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    lines = []
    for name, res in results:
        res["error_rate"] = res["failed"] / max(res["attempted"], 1)
        print_report(name, res, telltale, units)
        record = {"workload": name, "telltale": telltale, **res}
        with open(os.path.join(work, "results",
                               f"{name}-s{args.seed}-t{args.trace}.json"),
                  "w") as f:
            json.dump(record, f, indent=1, default=str)
        lines.append(json.dumps({
            "correct": res["failed"] == 0 and left == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in res["metrics"].items()},
        }))
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
