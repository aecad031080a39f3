"""Steady-state benchmark of the translate engine on the host it runs on.

    python3 hostbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 hostbench/run.py --all [--seed <n>] [--seconds <s>]

One run: generate (or reuse) the seeded inputs in a subprocess; time one
cold set-up in a child process; set up in this process as the second
sample; compute the expected results; run a fixed number of warm-up passes;
then run timed closed-loop passes, at least ``MIN_COUNTED_PASSES`` of them
and at least ``--seconds`` seconds, gating each pass's output outside the
timed region. Set-up and passes are measured in CPU seconds of this process
and its descendants (the Spark JVM and its Python workers), which the load
of other tenants on a shared host barely moves, and in wall seconds, which
it does. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end with ``--trace 0``,
per layer with ``--trace 1``). The line before it is the run record: host
weather, JVM flags, wall-time figures, set-up and pass times and the
warm-up check. ``--all`` runs every workload untraced, one process
each, and prints one summary row per workload.

Run from the root of a checkout. Everything it writes stays under
``hostbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "logstash_filter_translate_spark"
NAMES = ("pages_pipeline", "enrich_lookup")

SETUP_SAMPLES = 2  # this process plus SETUP_SAMPLES - 1 children
#: a fixed count, so every run times the same stretch of the JIT slope and
#: sees the dictionary reloads at the same timed passes
WARMUP_PASSES = 6
#: timed passes that count toward pass_cpu_s (reload batches do not). It
#: takes longer than ``--seconds`` on a 4-CPU host, so the count, not the
#: host's speed, fixes which passes a run times, and the warm-up check
#: compares two halves of 4
MIN_COUNTED_PASSES = 8


def prepare_env() -> None:
    """Keep every file the JVM, Spark and Python write inside the checkout,
    and let Python workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def install_tracer(tracer) -> None:
    """Spans around the program's public functions (layer boundaries)."""
    from logstash_filter_translate_spark.operators import translate
    from logstash_filter_translate_spark.plans import io, pipeline
    from logstash_filter_translate_spark.sources import dictionary

    def plane(span, args, result):
        span["plane"] = type(args[0].strategy).__name__

    def changed(span, args, result):
        span["changed"] = bool(result)

    def location(span, args, result):
        span["loc"] = os.path.basename(str(args[2] if len(args) > 2 else ""))

    def keep_instance(span, args, result):
        tracer.dictionaries.append(args[0])

    tracer.dictionaries = []
    tracer.wrap(translate.Translate, "__init__", "translate.init")
    tracer.wrap(translate.Translate, "apply", "translate.apply", plane)
    tracer.wrap(translate.Translate, "refresh", "translate.refresh", changed)
    tracer.wrap(dictionary, "load_dictionary_file", "dictionary.load")
    tracer.wrap(dictionary.DictionaryFile, "__init__", "dictionary.init", keep_instance)
    tracer.wrap(pipeline, "write_sinks", "io.write_sinks")
    tracer.wrap(io.TableIO, "write", "io.write", location)


def setup(workload: str, inputs: str, work: str, cores: int, tracer=None):
    """Cold set-up: imports, JVM and session, input registration,
    dictionary load and operator construction. Returns (spark, workload
    object, {"cpu_s", "s"} of the set-up, session wall seconds). ``cpu_s``
    is the CPU time of this process and its descendants (the JVM). The
    benchmark's own modules are imported before the clocks start."""
    sys.path[:0] = [ROOT, HERE]
    from probes import tree_cpu_s
    from workloads import WORKLOADS

    c0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    from logstash_filter_translate_spark.session import build_session

    if tracer is not None:
        install_tracer(tracer)
        tracer.on = True
    t1 = time.perf_counter()
    spark = build_session(
        app_name="hostbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t1
    wl = WORKLOADS[workload](spark, inputs, work)
    cost = {"cpu_s": tree_cpu_s(os.getpid()) - c0, "s": time.perf_counter() - t0}
    return spark, wl, cost, session_s


def teardown(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from probes import descendants

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close() if proc.stdin else None
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def remove_stale_work() -> None:
    """Remove the work directories of runs that were killed."""
    for name in os.listdir(WORK):
        prefix, _, pid = name.partition("-")
        if prefix in ("run", "setup") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def generate(workload: str, seed: int, size: int) -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), str(size),
         os.path.join(WORK, "inputs")],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    return out.stdout.strip().splitlines()[-1]


def child_setup(args, inputs: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only", "--workload", args.workload,
         "--seed", str(args.seed), "--inputs", inputs, "--cores", str(args.cores)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def setup_only(args) -> int:
    work = os.path.join(WORK, f"setup-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spark, wl, cost, _ = setup(args.workload, args.inputs, work, args.cores)
        wl.close()
        teardown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(cost))
    return 0


def run_passes(
    wl,
    seconds: float,
    status=None,
    warmup: int = WARMUP_PASSES,
    min_counted: int = MIN_COUNTED_PASSES,
) -> list:
    """Warm-up, then timed passes until at least ``seconds`` are timed and
    ``min_counted`` passes count toward pass_cpu_s; each pass is gated after
    its clocks stop. Returns one record per pass: wall seconds ``s`` and
    CPU seconds ``cpu_s`` of this process and its descendants."""
    from probes import tree_cpu_s

    passes = []

    def one(i: int, phase: str) -> dict:
        wl.before_pass(i)
        if status is not None:
            status.mark()
        rec = {"i": i, "phase": phase, "counted": True}
        c0 = tree_cpu_s(os.getpid())
        w0, t0 = time.time(), time.perf_counter()
        try:
            result = wl.run_pass(i)
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - c0
            rec["problems"] = wl.check(i, result)
        except Exception:
            rec.setdefault("s", time.perf_counter() - t0)
            rec.setdefault("cpu_s", tree_cpu_s(os.getpid()) - c0)
            rec["problems"] = [traceback.format_exc(limit=4)]
        rec["ok"] = not rec["problems"]
        rec["counted"] = wl.counts_in_pass_s(i)
        rec["wall"] = (w0, w0 + rec["s"])
        if not rec["ok"]:
            print(f"hostbench: pass {i} failed: {rec['problems'][:3]}", file=sys.stderr)
        if status is not None and phase == "timed":
            t1 = time.perf_counter()
            rec["spark"] = {
                "executions": status.executions(nodes=True),
                "jobs": status.jobs(),
                "stages": status.stages(),
            }
            rec["trace_s"] = time.perf_counter() - t1
        passes.append(rec)
        return rec

    for i in range(warmup):
        one(i, "warmup")
    timed, counted = 0.0, 0
    i = warmup
    while counted < min_counted or timed < seconds:
        rec = one(i, "timed")
        timed += rec["s"]
        counted += rec["counted"]
        i += 1
    return passes


def end_to_end(wl, passes: list, setup_samples: list) -> dict:
    """Every end-to-end figure of a run. The metrics (``BENCHMARK.json``)
    are the CPU-time ones; the wall-time ones (``setup_wall_s``, ``pass_s``,
    ``rows_per_s``) follow the load other tenants put on the host and go
    to the run record and ``--all``."""
    from stats import median

    timed = [p for p in passes if p["phase"] == "timed"]
    ok = [p for p in timed if p["ok"]]
    counted = [p for p in ok if p["counted"]]
    rows = wl.rows * len(ok)
    cpu, wall = sum(p["cpu_s"] for p in timed), sum(p["s"] for p in timed)
    return {
        "setup_s": {"value": median(c["cpu_s"] for c in setup_samples), "unit": "s"},
        "pass_cpu_s": {"value": median(p["cpu_s"] for p in counted), "unit": "s"},
        "rows_per_cpu_s": {"value": rows / cpu if cpu else 0.0, "unit": "rows/cpu-s"},
        "setup_wall_s": {"value": median(c["s"] for c in setup_samples), "unit": "s"},
        "pass_s": {"value": median(p["s"] for p in counted), "unit": "s"},
        "rows_per_s": {"value": rows / wall if wall else 0.0, "unit": "rows/s"},
    }


def per_layer(wl, passes, tracer, session_s: float, weather: dict) -> dict:
    """The layer metrics of a traced run (see the README's metric map)."""
    from stats import median, tail
    from probes import feeds_lookup_join, is_lookup_join, merged_busy, node_sum

    timed = [p for p in passes if p["phase"] == "timed" and "spark" in p]

    def per_pass(fn) -> float:
        return median(fn(p) for p in timed)

    def spans_in(p, name):
        lo, hi = p["wall"]
        return [s for s in tracer.select(name) if lo <= s["start"] <= hi]

    def execs(p):
        return p["spark"]["executions"]

    m = {
        "session.start_s": session_s,
        "spark.jobs": per_pass(lambda p: len(p["spark"]["jobs"])),
        "spark.stages": per_pass(lambda p: len(p["spark"]["stages"])),
        "spark.executor_run_s": per_pass(lambda p: sum(s["run_s"] for s in p["spark"]["stages"])),
        "spark.gc_s": per_pass(lambda p: sum(s["gc_s"] for s in p["spark"]["stages"])),
        "spark.shuffle_write_bytes": per_pass(
            lambda p: sum(s["shuffle_write_bytes"] for s in p["spark"]["stages"])
        ),
        "spark.driver_only_s": per_pass(
            lambda p: p["s"] - merged_busy(
                [(j["start"], j["end"]) for j in p["spark"]["jobs"] if j["start"] and j["end"]],
                *p["wall"],
            )
        ),
        "translate.plan_s": per_pass(
            lambda p: sum(s["end"] - s["start"] for n in ("translate.init", "translate.apply")
                          for s in spans_in(p, n))
        ),
        "lookup.python_s": per_pass(
            lambda p: sum(node_sum(execs(p), n, "time to run Python workers")
                          for n in ("ArrowEvalPython", "BatchEvalPython"))
        ),
        "lookup.python_rows": per_pass(
            lambda p: sum(node_sum(execs(p), n, "number of output rows")
                          for n in ("ArrowEvalPython", "BatchEvalPython"))
        ),
        "lookup.join_rows": per_pass(
            lambda p: sum(node_sum(execs(p), n, "number of output rows", is_lookup_join)
                          for n in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
        ),
        "lookup.broadcast_bytes": per_pass(
            lambda p: node_sum(execs(p), "BroadcastExchange", "data size", feeds_lookup_join)
        ),
        "lookup.broadcast_build_s": per_pass(
            lambda p: sum(node_sum(execs(p), "BroadcastExchange", k, feeds_lookup_join)
                          for k in ("time to collect", "time to build", "time to broadcast"))
        ),
        "agg.spill_bytes": per_pass(lambda p: node_sum(execs(p), "HashAggregate", "spill size")),
        "agg.peak_mem_bytes": per_pass(lambda p: node_sum(execs(p), "HashAggregate", "peak memory")),
        "io.sink_write_s": per_pass(
            lambda p: sum(s["end"] - s["start"] for s in spans_in(p, "io.write_sinks"))
        ),
        "pipeline.aggregate_s": per_pass(
            lambda p: sum(s["end"] - s["start"] for s in spans_in(p, "io.write")
                          if s.get("loc", "").startswith("agg_"))
        ),
        "trace.overhead_s": per_pass(lambda p: p["trace_s"]),
        "host.steal_pct": weather["steal_pct"],
        "host.cpu_pressure_pct": weather["cpu_pressure_pct"],
    }
    for plane in ("ExactMapLiteral", "ExactBroadcastJoin", "RegexFirstMatch", "UnionSubstitution"):
        m[f"translate.plane.{plane}"] = per_pass(
            lambda p: sum(1 for s in spans_in(p, "translate.apply") if s.get("plane") == plane)
        )
    # dictionary and refresh: whole run (warm-up and timed batches)
    loads = tracer.select("dictionary.load")
    m["dictionary.load_s"] = median(s["end"] - s["start"] for s in loads)
    m["dictionary.entries"] = len(tracer.dictionaries[-1]) if tracer.dictionaries else 0
    refreshes = tracer.select("translate.refresh")
    m["refresh.check_s"] = median(s["end"] - s["start"] for s in refreshes if not s["changed"])
    m["refresh.reload_s"] = median(s["end"] - s["start"] for s in refreshes if s["changed"])
    m["refresh.changed"] = sum(1 for s in refreshes if s["changed"])
    published = getattr(wl, "published", [])
    m["refresh.failed"] = max(0, len(published) - m["refresh.changed"])
    m["refresh.pickup_s"] = median(
        min((s["start"] - t for s in refreshes if s["start"] >= t), default=0.0) for _, t in published
    )
    if published:
        _, value, n = tail([p["s"] for p in passes if p["phase"] == "timed"])
        m["refresh.batch_tail_s"], m["refresh.batch_tail_samples"] = value, n
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=NAMES)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--inputs", help=argparse.SUPPRESS)
    ap.add_argument("--scaling-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and its processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"hostbench: no {PACKAGE}/ beside {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    prepare_env()
    if args.setup_only:
        return setup_only(args)
    return run_one(args)


def run_one(args) -> int:
    sys.path[:0] = [HERE]
    from workloads import WORKLOADS

    from probes import RssSampler, SparkStatus, Tracer, Weather

    size = WORKLOADS[args.workload].size
    clock = [("start", time.perf_counter())]

    def phase(name: str) -> None:
        clock.append((name, time.perf_counter()))

    inputs = args.inputs or generate(args.workload, args.seed, size)
    phase("generate")
    samples = [] if args.scaling_probe else [child_setup(args, inputs) for _ in range(SETUP_SAMPLES - 1)]
    phase("child_setups")
    remove_stale_work()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    weather = Weather()
    rss = RssSampler() if args.trace else None
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        spark, wl, cost, session_s = setup(args.workload, inputs, work, args.cores, tracer)
        samples.append(cost)
        runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        jvm_flags = [str(a) for a in runtime.getInputArguments()]
        phase("setup")
        wl.expected()
        phase("oracle")
        status = SparkStatus(spark) if args.trace else None
        if args.scaling_probe:
            # a short local[1] run for spark.scaling_1to4
            passes = run_passes(wl, 0.0, warmup=1, min_counted=2)
        else:
            passes = run_passes(wl, args.seconds, status)
        phase("passes")
        metrics = end_to_end(wl, passes, samples)
        if args.scaling_probe:
            print(json.dumps({"rows_per_s": metrics["rows_per_s"]["value"]}))
            return 0
        if args.trace:
            layers = per_layer(wl, passes, tracer, session_s, weather.record())
            tracer.on = False
            layers.update(wl.layers(status))
            if getattr(wl, "problems", []):
                passes.append({"phase": "probe", "ok": False, "s": 0.0, "problems": wl.problems})
                print(f"hostbench: probe failed: {wl.problems[:3]}", file=sys.stderr)
            phase("layers")
        wl.close()
    finally:
        if spark is not None:
            teardown(spark)
        if rss is not None:
            rss.close()
        shutil.rmtree(work, ignore_errors=True)
    phase("teardown")
    if args.trace:
        layers["session.peak_rss_mb"] = rss.peak / 2**20
        if args.workload == "pages_pipeline":
            layers["spark.scaling_1to4"] = scaling(args, inputs, metrics["rows_per_s"]["value"])
            phase("scaling")
    phases = {b[0]: round(b[1] - a[1], 2) for a, b in zip(clock, clock[1:])}
    record(args, passes, metrics, samples, weather.record(), jvm_flags, phases)
    failed = sum(1 for p in passes if not p["ok"])
    if args.trace:
        names = layer_names()
        out_metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in names.items()}
    else:
        out_metrics = {m["name"]: metrics[m["name"]] for m in benchmark_spec()["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": len(passes), "failed": failed,
                      "metrics": out_metrics}))
    return 0


def scaling(args, inputs: str, rows_per_s_n: float) -> float:
    """rows_per_s at local[nproc] / (nproc x rows_per_s at local[1])."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scaling-probe", "--workload", args.workload,
         "--seed", str(args.seed), "--inputs", inputs, "--cores", "1", "--seconds", "0"],
        check=True, stdout=subprocess.PIPE, text=True, timeout=170,
    )
    one = json.loads(out.stdout.strip().splitlines()[-1])["rows_per_s"]
    return rows_per_s_n / (args.cores * one) if one else 0.0


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_names() -> dict:
    return {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}


def record(args, passes, metrics, samples, weather: dict, jvm_flags=(), phases=None) -> None:
    """The run record: weather, JVM flags, wall-time figures, set-up and
    pass times, and the warm-up check on pass CPU time. A run whose halves
    differ by the pass_cpu_s bound or more is marked ``"settled": false``
    and named on stderr."""
    from stats import halves_gap

    counted = [p for p in passes if p["phase"] == "timed" and p["ok"] and p["counted"]]
    gap = halves_gap([p["cpu_s"] for p in counted])
    bound = next(m["bound"] for m in benchmark_spec()["end_to_end"] if m["name"] == "pass_cpu_s")
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "weather": weather,
        "jvm_flags": jvm_flags,
        "phases_s": phases or {},
        "wall": {k: metrics[k]["value"] for k in ("setup_wall_s", "pass_s", "rows_per_s")},
        "setup_samples": samples,
        "warmup_s": [round(p["s"], 4) for p in passes if p["phase"] == "warmup"],
        "warmup_cpu_s": [round(p["cpu_s"], 3) for p in passes if p["phase"] == "warmup"],
        "timed_s": [round(p["s"], 4) for p in passes if p["phase"] == "timed"],
        "timed_cpu_s": [round(p["cpu_s"], 3) for p in passes if p["phase"] == "timed"],
        "halves_gap": gap,
        "halves_gap_wall": halves_gap([p["s"] for p in counted]),
        "settled": gap < bound,
        "failed_share": sum(1 for p in passes if not p["ok"]) / max(1, len(passes)),
    }
    if not rec["settled"]:
        print(f"hostbench: warm-up not settled: halves differ by {gap:.3f} >= {bound}",
              file=sys.stderr)
    print("record " + json.dumps(rec))


def run_all(args) -> int:
    """Every workload untraced, then a traced pages_pipeline run for the
    dedup probe's quality figures; one process each, one summary row per
    workload."""

    def one(name: str, trace: int):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
             "--cores", str(args.cores)],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        lines = out.stdout.strip().splitlines()
        rec = json.loads(lines[-2][len("record "):])
        return json.loads(lines[-1]), rec

    for name in NAMES:
        result, rec = one(name, 0)
        row = {k: f"{v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items()}
        row["setup_wall_s"] = f"{rec['wall']['setup_wall_s']:.4g} s"
        row["pass_s"] = f"{rec['wall']['pass_s']:.4g} s"
        row["rows_per_s"] = f"{rec['wall']['rows_per_s']:.4g} rows/s"
        row["failed_share"] = f"{result['failed'] / result['attempted']:.3g} share"
        print(f"{name}: " + "  ".join(f"{k}={v}" for k, v in row.items()), flush=True)
    traced, _ = one("pages_pipeline", 1)
    print("near_dup_curation probe (traced pages_pipeline): " + "  ".join(
        f"{k}={traced['metrics'][k]['value']:.4g} {traced['metrics'][k]['unit']}"
        for k in ("dup_recall", "dup_precision", "dedup.chain_s")
    ) + f"  failed_share={traced['failed'] / traced['attempted']:.3g} share")
    return 0


if __name__ == "__main__":
    sys.exit(main())
