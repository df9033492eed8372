#!/usr/bin/env python3
"""Repository benchmark: one named workload per process, one closed-loop
client on ``local[<cpus>]``.

    python3 perfbench/run.py --workload api_point --seed 1 --seconds 10 --trace 0

Workloads (details, and the layer metric -> end-to-end metric map, in
``perfbench/spec.json``), both through ``api.http.handle_timeseries_v2`` on a
``LakeTimeseriesService`` over the production-shaped lake:

- ``api_point``: single-point requests;
- ``api_polygon_chain``: polygons with a z-score and 1-3 smoothers.

A run builds its inputs under ``.bench_build/`` if this checkout has none
(see ``lake.py``), sets up (start a Spark session, open the lake, serve one
warm-up request), sets up again ``RESTARTS`` times in the same JVM and
reports the median of those as ``setup_s``, warms the last session with a
fixed set of requests, then issues whole
request cycles for ``--seconds`` (at least ``MIN_CYCLES``) and checks every
answer against an independent numpy oracle.

``--trace 1`` reports per-layer metrics instead: it runs the requests
untraced, then again in a session that writes a Spark event log, with
timing wrappers around the layer entry points, then probes the layers the
API leaves idle: the registry queries at sf0.1 (checked against their
DuckDB oracles), ``execute_many`` batches (checked, with the two known
defects told apart from any other failure) and the lake ingest.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries provenance and run details.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[0] = str(ROOT)

from perfbench.metrics import cpu_steal, descendants, peak_rss_mb, percentile, tail_percentile  # noqa: E402

# A run's first set-up also starts the JVM. The later ones restart the
# session in it; the first restart is the slowest, so setup_s is the median
# of RESTARTS of them.
RESTARTS = 3
# whole cycles a run measures at least: 20 point requests or 12 polygon
# requests (12-25 s on 4 cores), so a run stays near 50 s
MIN_CYCLES = 2
WORKLOADS = ("api_point", "api_polygon_chain")
# p75 of a run's 12-30 requests (the ten-beyond rule would need 40)
TAIL_PERCENTILE = 75
HEAP = "2g"


# -- sessions --------------------------------------------------------------------


def configure_env() -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    from perfbench import lake

    tmp = lake.BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(lake.BUILD / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXECUTOR_MEM"):
        os.environ.pop(var, None)
    tempfile.tempdir = str(tmp)


def start_session(eventlog: Path | None = None):
    from perfbench import lake
    from skope_api_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            # a fixed-size heap keeps the JVM's resident peak from
            # following each run's garbage-collector sizing decisions
            f"-Djava.net.preferIPv4Stack=true -Xms{HEAP} -Djava.io.tmpdir={lake.BUILD / 'tmp'}"
        ),
    }
    if eventlog is not None:
        eventlog.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


# -- workloads -------------------------------------------------------------------


@dataclass
class Op:
    """One timed call: a request, a batch or a query."""

    id: int
    kind: str
    item: object
    ms: float
    window: tuple[float, float]  # epoch ms, for matching Spark jobs
    result: object = None
    error: str | None = None


class Runner:
    def __init__(self, tracer=None):
        self.tracer = tracer
        self.ops: list[Op] = []

    def call(self, kind: str, fn, item) -> Op:
        if self.tracer is not None:
            self.tracer.op = len(self.ops)
        w0, t0 = time.time(), time.perf_counter()
        result, error = None, None
        try:
            result = fn(item)
        except Exception as ex:  # noqa: BLE001 - a failed call is counted, not fatal
            error = f"{type(ex).__name__}: {ex}"[:300]
        ms = (time.perf_counter() - t0) * 1000
        op = Op(len(self.ops), kind, item, ms, (w0 * 1000, time.time() * 1000), result, error)
        self.ops.append(op)
        return op


class ApiWorkload:
    def __init__(self, name: str):
        import numpy as np

        from perfbench import apigen

        self.name = name
        rng = np.random.default_rng(0)
        self.setup_request = apigen.point_request(rng, "dev", "mean")
        self.warm = apigen.warm_requests(rng, name)
        self.cycle = apigen.point_cycle if name == "api_point" else apigen.polygon_cycle

    def open(self, spark) -> None:
        from perfbench import lake
        from skope_api_spark.sources.lake import lake_service

        lake.register_lbda()
        self.svc = lake_service(spark, str(lake.LAKE))

    def prepare(self) -> None:
        """Warm the session about to be timed: Spark's planner runs 1.3-2x
        slower for the first 10-20 requests in a JVM. The requests come from
        a fixed seed, so every run warms up with the same ones."""
        for item in self.warm:
            self.call(item)

    def warm_up(self) -> None:
        self.call(self.setup_request)

    def call(self, item):
        from skope_api_spark.api.http import handle_timeseries_v2

        return handle_timeseries_v2(self.svc, item.payload)

    def execute_many(self, items: list):
        from skope_api_spark.api import models as M

        return self.svc.execute_many([M.TimeseriesV2Request(**it.payload) for it in items])


def check_op(op: Op) -> str | None:
    """Failure message for a request, None when it was answered correctly."""
    from perfbench import oracle

    if op.error:
        return op.error
    return oracle.check(op.item, *op.result)


def measure(wl, runner: Runner, rng, seconds: float) -> list[Op]:
    """Issue whole cycles until ``seconds`` have passed, at least
    ``MIN_CYCLES`` of them."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    n = 0
    while n < MIN_CYCLES or time.perf_counter() - t0 < seconds:
        ops.extend(runner.call("api", wl.call, it) for it in wl.cycle(rng, n))
        n += 1
    return ops


def set_up(wl, spark, eventlog: Path | None = None):
    """Start a fresh session, open the workload's inputs and warm up."""
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = start_session(eventlog)
    wl.open(spark)
    wl.warm_up()
    return spark, time.perf_counter() - t0


# -- traced run --------------------------------------------------------------------


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def probe_batches(api: ApiWorkload, runner: Runner, rng) -> dict:
    """Run the ``execute_many`` probe and check every answer. Failures of
    the two known defects make up ``failed_share``; any other failure, and
    a share above the known defects' ``apigen.BATCH_KNOWN_FAILED_SHARE``,
    is in ``unexpected``."""
    from perfbench import apigen, oracle

    valid, known, unexpected = 0, [], []
    for batch in apigen.batch_probe(rng):
        op = runner.call("batch", api.execute_many, batch)
        bodies = [r.model_dump(mode="json") for r in op.result or ()]
        valid += sum(item.status == 200 for item in batch)
        for defect, msg in oracle.check_batch(batch, bodies, op.error):
            (known if defect else unexpected).append(msg[:200])
    share = (len(known) + len(unexpected)) / valid
    if share > apigen.BATCH_KNOWN_FAILED_SHARE + 1e-9:
        unexpected.append(
            f"batch failed share {share:.4f} above the known defects' "
            f"{apigen.BATCH_KNOWN_FAILED_SHARE:.4f}"
        )
    return {"attempted": valid, "failed_share": share, "known": known, "unexpected": unexpected}


def probe_ingest(spark) -> dict:
    """Time the program's ingest on a 1/25-cell lake of the same shape."""
    from perfbench import lake

    path = lake.BUILD / "ingest-probe"
    shutil.rmtree(path, ignore_errors=True)
    lake.register_lbda(rows=lake.LBDA_ROWS // 5, cols=lake.LBDA_COLS // 5)
    try:
        return lake.ingest(spark, path)
    finally:
        lake.register_lbda()
        shutil.rmtree(path, ignore_errors=True)


def layer_metrics(tracer, ops: list[Op], spark_stats: dict[int, dict]) -> dict[str, float]:
    from perfbench import oracle

    api = [op for op in ops if op.kind == "api"]
    rows = []
    for op in api:
        lay, sp = tracer.per_op(op.id), spark_stats[op.id]
        row = {
            "http.edge_ms": op.ms - lay.get("service.execute", 0.0),
            "service.self_ms": lay.get("service.self", 0.0),
            "service.collect_ms": lay.get("service.collect", 0.0),
            "service.collects_per_op": lay["service.collects"],
            "geometry.rasterize_ms": lay.get("geometry.rasterize", 0.0) + lay.get("geometry.mask_df", 0.0),
            "geometry.cells_per_op": lay["geometry.cells"],
            "operators.plan_build_ms": lay.get("operators.zonal_series", 0.0) + lay.get("operators.windows", 0.0),
            "spark.driver_gap_ms": lay.get("service.collect", 0.0) - sp["job_ms"],
        }
        if op.item.status == 200:
            _, (e0, e1) = oracle.band_ranges(op.item.payload)
            row["lake.read_amplification"] = sp["input_rows"] / (len(op.item.cells) * (e1 - e0 + 1))
        rows.append(row)
    out = {}
    for name in (
        "http.edge_ms", "service.self_ms", "service.collect_ms", "geometry.rasterize_ms",
        "operators.plan_build_ms", "spark.driver_gap_ms", "lake.read_amplification",
    ):
        out[name] = _median(r[name] for r in rows if name in r)
    for name in ("service.collects_per_op", "geometry.cells_per_op"):
        out[name] = _mean(r[name] for r in rows)
    return out


def spark_metrics(ops: list[Op], spark_stats: dict[int, dict]) -> dict[str, float]:
    st = [spark_stats[op.id] for op in ops]
    out = {f"spark.{k}_per_op": _mean(s[k] for s in st) for k in ("jobs", "stages", "tasks")}
    for k in ("job_ms", "task_run_ms", "shuffle_write_bytes", "input_rows", "input_bytes"):
        out[f"spark.{k}"] = _median(s[k] for s in st)
    return out


def registry_metrics(ops: list[Op], spark_stats: dict[int, dict]) -> dict[str, float]:
    from perfbench.registry import QUERIES

    reg = [op for op in ops if op.kind == "registry"]
    out = {f"registry.{q}_ms": _median(op.ms for op in reg if op.item == q) for q in QUERIES}
    out["registry.stages_per_query"] = _mean(spark_stats[op.id]["stages"] for op in reg)
    out["registry.shuffle_write_bytes"] = _median(spark_stats[op.id]["shuffle_write_bytes"] for op in reg)
    return out


def traced_run(wl, spark, rng, seconds: float, evdir: Path):
    """Per-layer metrics. Returns (the last session, metrics, requests to
    check, (calls attempted, failures) of the probes, details).

    The requests run untraced in the session set up for timing, then again
    with the span wrappers installed in a fresh session of the same JVM that
    writes the Spark event log to ``evdir``, then untraced once more in a
    session without the log; ``trace.overhead_ratio`` thus covers the event
    log as well as the wrappers, and the untraced passes on either side of
    the traced one offset the JVM's continuing warm-up. The probes run last,
    traced, in a session that writes the event log."""
    import numpy as np

    from perfbench import lake, spans
    from perfbench.registry import QUERIES, RegistryProbe

    plain, items = Runner(), []
    t0, n = time.perf_counter(), 0
    phases = {}
    while n < 1 or time.perf_counter() - t0 < seconds / 2:
        for item in wl.cycle(rng, n):
            items.append(item)
            plain.call("api", wl.call, item)
        n += 1
    phases["plain"] = time.perf_counter() - t0

    tracer = spans.Tracer()
    traced = Runner(tracer)
    spark, _ = set_up(wl, spark, evdir)
    tracer.install()
    try:
        for item in items:
            traced.call("api", wl.call, item)
    finally:
        tracer.uninstall()
    phases["traced"] = time.perf_counter() - t0
    spark, _ = set_up(wl, spark)
    for item in items:
        plain.call("api", wl.call, item)
    phases["plain_again"] = time.perf_counter() - t0

    spark, _ = set_up(wl, spark, evdir)
    tracer.install()
    try:
        reg = RegistryProbe(ROOT, spark, lake.SF_DIR)
        reg_ops = [traced.call("registry", reg.run, q) for q in QUERIES]
        phases["registry"] = time.perf_counter() - t0
        batch = probe_batches(wl, traced, np.random.default_rng(rng.integers(1 << 31)))
        phases["batch"] = time.perf_counter() - t0
    finally:
        tracer.uninstall()
    ingest = probe_ingest(spark)
    spark.stop()
    phases["ingest"] = time.perf_counter() - t0

    apps = spans.parse_eventlog_dir(evdir)
    shutil.rmtree(evdir, ignore_errors=True)
    stats = spans.spark_per_window(apps, [op.window for op in traced.ops])
    by_id = dict(enumerate(stats))

    api_ops = [op for op in traced.ops if op.kind == "api"]
    batch_ops = [op for op in traced.ops if op.kind == "batch"]
    m = layer_metrics(tracer, api_ops, by_id)
    m.update(spark_metrics(api_ops, by_id))
    m.update(registry_metrics(traced.ops, by_id))
    m.update({
        "ingest.write_s": ingest["write_s"],
        "ingest.bytes_written": ingest["bytes_written"],
        "ingest.files_written": ingest["files_written"],
        "batch.call_ms": _median(op.ms for op in batch_ops),
        "batch.self_ms": _median(tracer.per_op(op.id).get("service.self", 0.0) for op in batch_ops),
        "batch.failed_share": batch["failed_share"],
        "trace.overhead_ratio": _median(op.ms for op in api_ops) / _median(op.ms for op in plain.ops),
    })
    failures = reg.check({op.item: op.error or op.result for op in reg_ops})
    failures += [f"batch: {msg}" for msg in batch["unexpected"]]
    attempted = len(reg_ops) + batch["attempted"]
    details = {
        "batch_probe_known_defects": batch["known"],
        "ingest_probe": ingest,
        "trace_phases_s": {k: round(v, 2) for k, v in phases.items()},
        "eventlog_sessions": len(apps),
    }
    return spark, m, plain.ops + api_ops, (attempted, failures), details


# -- main ------------------------------------------------------------------------


def _git_head() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return out.stdout.strip() or None


def build() -> int:
    """Build the checkout's inputs in this process (see ``lake.build``)."""
    from perfbench import lake

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = lake.BUILD_HEAP
    spark = start_session()
    try:
        with contextlib.redirect_stdout(sys.stderr):
            lake.build(spark)
    finally:
        shutdown(spark)
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build", action="store_true", help="only build the inputs")
    args = ap.parse_args(argv)
    if not args.build and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    configure_env()
    from perfbench import lake

    if args.build:
        return build()
    if lake.build_record() is None:
        # a JVM that has just written the lake serves requests up to 2x
        # slower, so the build gets a process of its own
        subprocess.run([sys.executable, __file__, "--build"], check=True, stdout=sys.stderr)
    build_rec = lake.build_record()
    # seconds since the inputs were ready, at the end of each phase
    t0, phases = time.perf_counter(), {}
    import numpy as np
    import pyspark

    from bench import host_telemetry

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    metric_specs = declared["per_layer" if args.trace else "end_to_end"]
    telemetry = host_telemetry()
    steal0 = cpu_steal()
    rng = np.random.default_rng(args.seed)
    wl = ApiWorkload(args.workload)

    spark, cold = set_up(wl, None)
    phases["cold_setup"] = time.perf_counter() - t0
    restarts = []
    # setup_s is not a per-layer metric, so traced runs skip the restarts
    for _ in range(0 if args.trace else RESTARTS):
        spark, dt = set_up(wl, spark)
        restarts.append(dt)
    phases["restarts"] = time.perf_counter() - t0
    wl.prepare()
    phases["warm_up"] = time.perf_counter() - t0

    details: dict = {}
    if args.trace:
        evdir = lake.BUILD / "eventlog" / f"{os.getpid()}-{time.time_ns()}"
        spark, metrics, ops, (attempted, failures), details = traced_run(
            wl, spark, rng, args.seconds, evdir
        )
    else:
        attempted, failures = 0, []
        ops = measure(wl, Runner(), rng, args.seconds)
        lat = [op.ms for op in ops]
        metrics = {
            "setup_s": statistics.median(restarts),
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": percentile(lat, TAIL_PERCENTILE),
            "ops_per_s": len(ops) / (sum(lat) / 1000),
            "peak_rss_mb": peak_rss_mb(),
        }
    phases["measured"] = time.perf_counter() - t0
    shutdown(spark)
    phases["shutdown"] = time.perf_counter() - t0
    steal1 = cpu_steal()
    telemetry["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    attempted += len(ops)
    failures += [f"{op.item.kind}: {msg}" for op in ops if (msg := check_op(op))]
    latencies = [round(op.ms, 1) for op in ops]
    phases["checked"] = time.perf_counter() - t0
    print(json.dumps({
        "provenance": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "git_head": _git_head(),
            "source_sha256": build_rec["key"],
            "pyspark": pyspark.__version__,
            "host": telemetry,
        },
        "latencies_ms": latencies,
        "tail_percentile": TAIL_PERCENTILE,
        "tail_rule_percentile": tail_percentile(len(latencies)),
        "error_rate": len(failures) / attempted,
        "failures": failures[:10],
        "setup_cold_s": cold,
        "setup_restarts_s": restarts,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "build": build_rec,
        **details,
    }))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in metric_specs
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
