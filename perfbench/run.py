"""The photon_spark benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload fetch-crawl --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. Set-up starts one local
session (``session.get_spark(cores=nproc)``) and runs a trivial job;
the workload then builds its inputs from ``--seed`` and its reference
result (both untimed). The first iteration runs in the fresh session;
then come one warm-up iteration and as many timed warm iterations as
the workload's nominal iteration time fits in ``--seconds`` (at least
one). Every iteration's outputs are checked against the reference.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a
separate run: warm iterations alternate untraced and traced, the
traced ones wrapped by ``tracer.Tracer`` with Spark's event log on,
and it prints the per-layer metrics. The last stdout line is the
result JSON; the line before it is the run record, also saved with
the spans under ``.perfbench_out/``. Exit status is 1 when an output
does not match its reference, 2 when the engine cannot be imported, and
3 when a traced run's layer spans cover less than ``COVERAGE_MIN`` of
the traced iterations' wall (median), i.e. the layer self times do not
reconcile with the wall.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.procs import PeakRss, descendants, process_start_time  # noqa: E402

COVERAGE_MIN = 0.85
WARMUP_UNTIL_S = 80.0  # see Runner.loop
PER_LAYER = ("self_s", "calls", "rows", "jobs", "tasks", "task_cpu_s",
             "shuffle_mb", "python_s", "skew")
SERVER = ("requests", "inflight_mean", "inflight_max", "server_s", "dup_requests")
UNITS = {"self_s": "s", "calls": "count", "rows": "rows", "jobs": "count",
         "tasks": "count", "task_cpu_s": "s", "shuffle_mb": "MB",
         "python_s": "s", "skew": "ratio", "requests": "count",
         "inflight_mean": "requests", "inflight_max": "requests",
         "server_s": "s", "dup_requests": "count"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_sha() -> str | None:
    """HEAD's sha when the checkout is a git repository."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        return None


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="utf-8") as f:
        return [float(x) for x in f.read().split()[:3]]


def spark_env(work: str, eventlog: str | None) -> None:
    """Keep Spark's scratch, the JVM's temp files and the event log
    inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if eventlog:
        os.makedirs(eventlog)
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", "file://" + eventlog),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for every
    process this one started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    reap_children()


def reap_children() -> None:
    """Terminate and reap every descendant; SIGKILL after 30 s."""
    me = os.getpid()
    deadline = time.time() + 30.0
    sig = signal.SIGTERM
    while True:
        pids = [p for p in descendants(me) if p != me]
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


class Runner:
    """Closed loop over one workload; collects timings and checks."""

    def __init__(self, wl, seconds: float, tracer=None):
        self.wl = wl
        self.seconds = seconds
        self.tracer = tracer
        # (iteration, kind, s); kind is "cold", "warmup", "untraced" or "traced"
        self.times: list[tuple[int, str, float]] = []
        self.peak_mb: dict[int, float] = {}  # iteration -> peak RSS
        server = getattr(wl, "server", None)
        self.not_measured = {server.pid} if server else set()
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def iterate(self, it: int, kind: str) -> float:
        # Every iteration starts from the same heap: an untimed full GC
        # clears what set-up or the previous iteration left, so that
        # garbage neither inflates peak RSS nor lands a collection in
        # the next iteration's time.
        self.wl.spark.sparkContext._jvm.System.gc()
        t = self.tracer
        traced = kind == "traced"
        if traced:
            t.iteration = it
            t.install()
            t.sc.setLocalProperty("spark.jobGroup.id", f"bench#{it}")
        try:
            with PeakRss(exclude=self.not_measured) as rss:
                t0 = time.perf_counter()
                self.wl.run(it)
                wall = time.perf_counter() - t0
            raised = False
        except Exception as e:  # counted, reported, loop goes on
            print(f"iteration {it} raised: {e!r}", file=sys.stderr)
            wall, raised = float("nan"), True
        finally:
            self.peak_mb[it] = rss.peak_mb
            if traced:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
                t.uninstall()
                t.release()
            self.wl.reset()
        self.attempted += self.wl.ops
        if raised:
            self.failed += self.wl.ops
            self.correct = False
        else:
            ok, failed_ops = self.wl.check(it)
            self.correct &= ok
            self.failed += failed_ops
            if not ok:
                print(f"iteration {it}: output differs from the reference",
                      file=sys.stderr)
        self.times.append((it, kind, wall))
        return wall

    def loop(self, alternate: bool, t_start: float) -> None:
        """The cold iteration; in an untraced run, one warm-up
        iteration; then a fixed number of timed warm ones: as
        many of the workload's nominal iterations as fit in ``seconds``,
        at least one (two, one of each kind, when ``alternate`` runs
        them untraced, traced, ...). A fixed count keeps every run at
        the same point of the JIT warm-up curve, which a time-bounded
        loop would move as the code gets faster.

        The first warm iteration still runs while the JIT compiles what
        the cold one made hot: over ten ``fetch-crawl`` seeds it read
        1.9 s slower than the next one on average, and its quartile
        spread was 0.23 of its median against 0.10, so it is run and
        checked but left out of ``iter_s``. A run that is already
        ``WARMUP_UNTIL_S`` past its start (``fetch-crawl`` on a host
        running about 1.5 times slower than usual) skips it, to stay
        inside the time a run may take; the record shows which
        iterations ran."""
        n = 0
        self.iterate(n, "cold")
        if not alternate and time.time() - t_start < WARMUP_UNTIL_S:
            n += 1
            self.iterate(n, "warmup")
        warm = max(2 if alternate else 1, round(self.seconds / self.wl.nominal_s))
        for k in range(1, warm + 1):
            self.iterate(n + k, "traced" if alternate and k % 2 == 0 else "untraced")

    def walls(self, kind: str) -> list[float]:
        return [w for _, k, w in self.times if k == kind and w == w]


def end_to_end(r: Runner, setup_s: float) -> dict:
    """``peak_rss_mb`` is the median over the run's iterations (the cold
    and warm-up ones included) of each iteration's peak: the JVM grows
    its heap by a few hundred MB more or less from one iteration to the
    next, so the single largest peak of a run is much less steady."""
    iter_s = statistics.median(r.walls("untraced"))
    first = r.times[0][2]
    return {
        "setup_s": (setup_s, "s"),
        "first_iter_s": (first, "s"),
        "iter_s": (iter_s, "s"),
        "items_per_s": (r.wl.items / iter_s, "items/s"),
        "peak_rss_mb": (statistics.median(r.peak_mb.values()), "MB"),
    }


def per_layer(r: Runner, tracer, folded: dict) -> tuple[dict, list[dict]]:
    from perfbench.eventlog import _empty
    from perfbench.tracer import LAYERS, PARQUET_LAYERS

    traced = [i for i, k, w in r.times if k == "traced" and w == w]
    rows = []
    for it in traced:
        totals = tracer.layer_totals(it)
        for layer in LAYERS:
            spark_side = folded.get(f"{layer}#{it}", _empty())
            totals[layer].update(spark_side)
            if layer in PARQUET_LAYERS:
                totals[layer]["rows"] = spark_side["rows_written"]
        wall = next(w for i, _, w in r.times if i == it)
        server = {}
        if hasattr(r.wl, "requests"):
            from perfbench.site_server import server_metrics

            server = server_metrics(r.wl.requests[it])
        covered = tracer.root_time(it)
        rows.append({"it": it, "layers": totals, "server": server,
                     "wall": wall, "coverage": covered / wall})
    med = statistics.median
    out = {}
    for layer in LAYERS:
        for m in PER_LAYER:
            out[f"{layer}.{m}"] = (med([x["layers"][layer][m] for x in rows]), UNITS[m])
    for m in SERVER:
        vals = [x["server"].get(m, 0) for x in rows]
        out[f"fetch_http.{m}"] = (med(vals), UNITS[m])
    t_iter = med([x["wall"] for x in rows])
    u_iter = med(r.walls("untraced"))
    out["trace.iter_s"] = (t_iter, "s")
    out["trace.untraced_iter_s"] = (u_iter, "s")
    out["trace.overhead_s"] = (t_iter - u_iter, "s")
    out["trace.coverage"] = (med([x["coverage"] for x in rows]), "ratio")
    return out, rows


def print_table(rows: list[dict]) -> None:
    from perfbench.tracer import LAYERS

    last = rows[-1]
    print(f"\nper-layer, traced iteration {last['it']} "
          f"(wall {last['wall']:.3f} s, spans cover {last['coverage']:.1%}):",
          file=sys.stderr)
    head = ("layer", "self_s", "calls", "rows", "jobs", "tasks", "cpu_s",
            "shuf_MB", "py_s", "skew")
    print("%-22s %8s %5s %8s %5s %6s %7s %8s %7s %6s" % head, file=sys.stderr)
    for layer in LAYERS:
        v = last["layers"][layer]
        if not v["calls"]:
            continue
        print("%-22s %8.3f %5d %8d %5d %6d %7.2f %8.2f %7.2f %6.2f" % (
            layer, v["self_s"], v["calls"], v["rows"], v["jobs"], v["tasks"],
            v["task_cpu_s"], v["shuffle_mb"], v["python_s"], v["skew"]),
            file=sys.stderr)
    if last["server"]:
        print("server: " + json.dumps(last["server"]), file=sys.stderr)


def main(argv=None) -> int:
    t_start = process_start_time()
    args = parse_args(argv)
    try:
        from photon_spark.session import get_spark
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the engine or its tools: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    def terminate(*_):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, terminate)
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(dir=scratch)
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    spark_env(work, eventlog)
    nproc = len(os.sched_getaffinity(0))
    record = {"workload": args.workload, "seed": args.seed,
              "nproc": nproc, "loadavg_start": loadavg(),
              "trace": args.trace, "seconds": args.seconds}
    spark = wl = None
    try:
        spark = get_spark(cores=nproc)
        spark.range(1).count()
        setup_s = time.time() - t_start
        record["git_sha"] = git_sha()
        t = time.perf_counter()
        wl_dir = os.path.join(work, "wl")
        os.makedirs(wl_dir)
        wl = WORKLOADS[args.workload](spark, args.seed, wl_dir)
        record.update(prepare_s=time.perf_counter() - t, reference_s=wl.reference_s,
                      items=wl.items, item=wl.item, ops_per_iteration=wl.ops)

        tracer = None
        if args.trace:
            from perfbench.tracer import Tracer

            tracer = Tracer(spark)
        runner = Runner(wl, args.seconds, tracer)
        runner.loop(alternate=bool(args.trace), t_start=t_start)
        record["iterations"] = [
            {"it": i, "kind": k, "wall_s": w, "peak_rss_mb": runner.peak_mb[i]}
            for i, k, w in runner.times
        ]
        stop_spark(spark)
        spark = None
        if args.trace:
            from perfbench.eventlog import fold, log_files

            metrics, rows = per_layer(runner, tracer, fold(log_files(eventlog)))
            print_table(rows)
            record["spans"] = [vars(s) for s in tracer.spans]
        else:
            metrics = end_to_end(runner, setup_s)
        record["loadavg_end"] = loadavg()
        record["setup_s"] = setup_s
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)  # only when no other run is using it
        except OSError:
            pass

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    record.pop("spans", None)
    print(json.dumps({"run": record}))
    result = {
        "correct": runner.correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    if not runner.correct:
        return 1
    if args.trace and metrics["trace.coverage"][0] < COVERAGE_MIN:
        print(f"layer spans cover {metrics['trace.coverage'][0]:.1%} of the "
              f"traced wall, under {COVERAGE_MIN:.0%}", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
