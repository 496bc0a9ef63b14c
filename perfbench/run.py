"""Link-graph benchmark: one workload per run, against Spark ``local[4]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl-rank --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark
session, then runs whole rounds of the workload's timed job until
``--seconds`` have passed (at least one round), checking every round's
outputs against the oracles. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans and per-layer figures
to ``.bench_work/traces/``. Everything the run writes stays under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "2g"
CORES = 4

LAYERS = ("sources.iceberg", "sources.extraction", "graph",
          "operators.pagerank", "operators.wcc", "operators.labelprop",
          "operators.triangles", "streaming.graph_maintenance")
GENERIC = ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
           "shuffle_write_mb", "spill_mb", "gc_s", "cache_left")


def since_process_start() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


class Context:
    """What a round needs: the session, the tracer, and the counts of
    attempted and failed operations and of check problems."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.raised: str | None = None   # the operation that raised

    @contextmanager
    def op(self, name: str, layer: str, count: int = 1):
        """A call into ``layer`` that performs ``count`` operations, timed
        as a span. If the call raises, its operations fail."""
        self.attempted += count
        try:
            with self.tracer.span(name, layer) as sp:
                yield sp
        except Exception:
            self.failed += count
            self.raised = name
            raise

    def expect(self, problems: list[str]) -> None:
        """Record check problems: each one makes the run incorrect."""
        for p in problems:
            print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
        self.problems += problems

    def fail(self, faults: list[str]) -> None:
        """Count one failed operation per fault: an output that a known
        fault of the program gets wrong on every input (CHANGES.md)."""
        for f in faults:
            print(f"[perfbench] FAILED: {f}", file=sys.stderr)
        self.failed += len(faults)


def attempt_round(ctx: Context, wl, r: int) -> dict[str, float]:
    """Run round ``r`` of ``wl``. A round that raises leaves its outputs
    unchecked, which is a problem; it returns no figures."""
    ctx.raised = None
    try:
        return wl.run_round(ctx, r)
    except Exception as e:
        traceback.print_exc()
        ctx.problems.append(f"round {r + 1}: {ctx.raised or 'checking'} "
                            f"raised {e!r}; its outputs are unchecked")
        return {}


def start_spark(work: str, trace: bool):
    from neo4j_graph_algorithms_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{CORES}]",
                     extra_conf=conf)


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out += [k, *_descendants(k)]
    return out


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and the Python workers
    it started have exited (the JVM exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError):
        return False


def layer_metrics(rounds: list[dict], spans, children) -> dict[str, float]:
    """Median over the completed rounds of each layer's summed span
    figures, plus the layer-specific figures each round reported (0
    where a layer did no work in this workload)."""
    done = [i for i, fig in enumerate(rounds) if "job_s" in fig] or [0]
    out: dict[str, float] = {}
    for layer in LAYERS:
        for g in GENERIC:
            per_round = [sum(sp.attrs.get(g, 0) for sp in spans
                             if sp.layer == layer and sp.attrs.get("round") == r)
                         for r in done]
            out[f"{layer}.{g}"] = statistics.median(per_round)
    for key in SPECIFIC:
        vals = [fig[key] for fig in rounds if key in fig]
        out[key] = statistics.median(vals) if vals else 0.0
    # aliases named in the layer list, equal to generic figures above
    out["labelprop.driver_s"] = out["operators.labelprop.driver_s"]
    out["triangles.shuffle_write_mb"] = out["operators.triangles.shuffle_write_mb"]
    folds = [c.attrs["driver_s"] for c in children if c.attrs.get("batch_id", 0) > 0]
    out["fold.driver_s"] = statistics.median(folds) if folds else 0.0
    return out


SPECIFIC = ("etl_s", "pagerank_s", "edge_steps_per_s", "wcc_s", "labelprop_s",
            "triangles_s", "wcc_fold_s", "pagerank_fold_s",
            "extract.links_per_s", "extract.dedup_ratio", "idmap.s",
            "idmap.nodes", "pagerank.supersteps", "pagerank.prep_s",
            "pagerank.superstep_s", "wcc.prep_s", "wcc.rounds", "wcc.round_s",
            "labelprop.iter_s", "labelprop.last_iter_s", "triangles.wedges",
            "triangles.closure_ratio", "sink.write_s", "fold.state_mb",
            "fold.pagerank_supersteps")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("neo4j_graph_algorithms_spark") is None:
        print("[perfbench] the program (neo4j_graph_algorithms_spark) is not "
              f"in {ROOT}", file=sys.stderr)
        return 2
    # every file the run writes -- Python and JVM temp files included --
    # goes under `work`, set before pyspark is imported
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(CORES),
    })
    try:
        from perfbench import trace as tracing
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"[perfbench] unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        return run(args, work, tracing, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, tracing, workload_cls) -> int:
    spark = start_spark(work, bool(args.trace))
    try:
        wl = workload_cls(args.seed, work)
        wl.generate()
        setup_s = since_process_start()
        t = time.perf_counter()
        wl.compute_oracles()
        oracle_s = time.perf_counter() - t

        tracer = tracing.Tracer(spark, bool(args.trace))
        ctx = Context(spark, tracer)
        rounds: list[dict] = []
        begin = time.perf_counter()
        while not rounds or time.perf_counter() - begin < args.seconds:
            first_span = len(tracer.spans)
            fig = attempt_round(ctx, wl, len(rounds))
            for sp in tracer.spans[first_span:]:
                sp.attrs["round"] = len(rounds)
            rounds.append(fig)
            print(f"[perfbench] round {len(rounds)}: " + json.dumps(
                {k: round(v, 4) for k, v in fig.items()}), file=sys.stderr)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)

    ok = [r for r in rounds if "job_s" in r]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        log = tracing.read_event_log(os.path.join(work, "events", app_id))
        children = tracing.span_figures(tracer.spans, log)
        metrics = layer_metrics(rounds, tracer.spans, children)
        trace_out = os.path.join(WORK, "traces",
                                 f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
        with open(trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spark_driver_memory": DRIVER_MEMORY,
                       "setup_s": setup_s, "oracle_s": oracle_s,
                       "rounds": rounds, "metrics": metrics,
                       "spans": tracer.dump(children)},
                      f, indent=1)
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": statistics.median(r["job_s"] for r in ok) if ok else 0.0,
        }
    print(f"[perfbench] spark.driver.memory={DRIVER_MEMORY} "
          f"oracle_s={oracle_s:.3f} rounds={len(rounds)}", file=sys.stderr)
    result = {
        "correct": not ctx.problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
