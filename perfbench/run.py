"""Benchmark driver: one closed-loop batch client, one pass in flight, on
``local[nproc]``.

    python3 perfbench/run.py --workload filter_short --seed 1 --seconds 8 --trace 0

Builds the workload's input from ``--seed`` (untimed), sets the session up
three times (the first start launches the JVM; two more stop and restart
the session in it) and reports the median as ``setup_s``, runs
PRE_PASSES more untimed passes, then times warm passes for ``--seconds``.
Every run checks the program's output against the repository's own
oracle in an untimed pass. ``--trace 1`` replaces the
timed passes with the per-layer ledger. The last stdout line is the JSON
result; a run record (noise readings, corpus fingerprint, per-pass values
and the spans) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3
# untimed passes between the last set-up and the measured (or traced) ones:
# the first four passes after a set-up run 10-25% slower than later ones
PRE_PASSES = 3
MIN_PASSES = 4
# a pass during which the hypervisor stole more than this share of the
# host's CPU time ran in a steal storm; medians use quiet passes when a
# run has MIN_PASSES of them (storms on this host slow passes 1.5-4x)
MAX_STEAL_SHARE = 0.05
PR_SET_CHILD_SUBREAPER = 36
RUN_TIMEOUT_S = 165  # the child's whole run, set-ups and check included
STRAY_GRACE_S = 5.0  # time left processes get to end on their own


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        i = len(self.spans)
        self.spans.append({"name": name, "parent": self._open[-1] if self._open else None,
                           "start": time.perf_counter() - self._t0})
        self._open.append(i)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[i]["end"] = time.perf_counter() - self._t0


def start_session(cpus: int):
    from metadata_quality_stack_spark import get_spark

    return get_spark(app_name="perfbench", master=f"local[{cpus}]")


def setup_once(wl, spark, cpus: int, corpus_dir: str):
    """One set-up: (re)start the session, first read, warm-up passes."""
    from workloads import WARM_PASSES

    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark = start_session(cpus)
    t1 = time.perf_counter()
    df = spark.read.parquet(corpus_dir)
    for _ in range(WARM_PASSES):
        wl.run_pass(df)
    return spark, df, {"start_s": t1 - t0, "warm_s": time.perf_counter() - t1}


def measure(wl, df, seconds: float, problems: list[str]) -> list[dict]:
    """Whole passes until ``seconds`` have passed and MIN_PASSES of them ran
    on a quiet host, or until twice ``seconds`` have passed. Each pass
    reads CPU time and peak memory of the whole process tree, and the
    share of the host's CPU time the hypervisor stole during it."""
    import procstat

    passes: list[dict] = []
    t_begin = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_begin
        n_quiet = sum(p["quiet"] for p in passes)
        if elapsed >= 2 * seconds and len(passes) >= MIN_PASSES:
            break
        if elapsed >= seconds and n_quiet >= MIN_PASSES:
            break
        tree = procstat.tree()
        procstat.reset_peak_rss(tree)
        s0, c0, t0 = procstat.steal_jiffies(), procstat.cpu_seconds(tree), time.perf_counter()
        ok = True
        try:
            wl.run_pass(df)
        except Exception:  # a failed pass is counted, not fatal
            ok = False
            problems.append(traceback.format_exc(limit=3))
        t1 = time.perf_counter()
        tree = procstat.tree()
        steal = procstat.steal_jiffies() - s0
        share = steal / (procstat.TICK * os.cpu_count() * (t1 - t0))
        passes.append({"ok": ok, "s": t1 - t0, "cpu_s": procstat.cpu_seconds(tree) - c0,
                       "peak_rss_mb": procstat.peak_rss_mb(tree),
                       "steal_jiffies": steal, "steal_share": share,
                       "quiet": share <= MAX_STEAL_SHARE, "load_1m": procstat.load_1m()})
    return passes


def oracle_rows(pdf, cpus: int, program_rows):
    """The oracle's rows, computed by a process pool while ``program_rows()``
    collects the program's rows for the same documents."""
    import pandas as pd

    from workloads import oracle_chunk

    step = -(-len(pdf) // (cpus * 2))
    chunks = [pdf.iloc[i : i + step] for i in range(0, len(pdf), step)]
    with multiprocessing.get_context("spawn").Pool(cpus) as pool:
        pending = pool.map_async(oracle_chunk, chunks)
        got = program_rows()
        want = pd.concat(pending.get(timeout=170), ignore_index=True)
        pool.close()
        pool.join()
    return got, want


def sample_texts(pdf, has_html: bool):
    """A fixed sample for the driver-side model timings."""
    import pandas as pd

    from metadata_quality_stack_spark.sources.pages import extract_text

    if has_html:
        return pd.Series([extract_text(h) for h in pdf["html"].head(40)])
    return pdf["text"].head(1000).reset_index(drop=True)


def scaling(wl, spark, df, corpus_dir: str, cpus: int):
    """docs/s at local[cpus] / (cpus x docs/s at local[1]), warm passes;
    returns the local[1] session, which replaces ``spark``."""
    from workloads import TRACE_REPS, median_time

    t_all = median_time(lambda: wl.run_pass(df), TRACE_REPS)
    spark.stop()
    spark = start_session(1)
    df1 = spark.read.parquet(corpus_dir)
    wl.run_pass(df1)
    t_one = median_time(lambda: wl.run_pass(df1), 1)
    return spark, t_one / (cpus * t_all)


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args) -> dict:
    import corpus
    import procstat
    from workloads import WORKLOADS, compare, model_body_ms_per_kdoc

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    corpus_dir = os.path.join(work, "corpus")
    with tracer.span("generate"):
        pdf = wl.make(args.seed)
        corpus.write_parquet(pdf, corpus_dir)
    fp = corpus.fingerprint(pdf)
    n = len(pdf)
    record: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                    "corpus": fp, "nproc": cpus,
                    "mem_total_mb": round(procstat.mem_total_mb()),
                    "load_1m_start": procstat.load_1m(),
                    "steal_jiffies_start": procstat.steal_jiffies()}
    problems: list[str] = []
    metrics: dict[str, tuple[float, str]] = {}

    spark = None
    setups = []
    for k in range(1 if args.trace else N_SETUPS):
        with tracer.span(f"setup.{k}"):
            spark, df, setup = setup_once(wl, spark, cpus, corpus_dir)
        setups.append(setup)
    record["setups"] = setups
    record["spark_version"] = spark.version
    record["java_version"] = spark.sparkContext._jvm.System.getProperty("java.version")

    with tracer.span("pre_passes"):
        for _ in range(PRE_PASSES):
            wl.run_pass(df)
    passes = []
    if not args.trace:
        with tracer.span("measure"):
            passes = measure(wl, df, args.seconds, problems)
        record["passes"] = passes
        used = [p for p in passes if p["quiet"]]
        used = used if len(used) >= MIN_PASSES else passes
        metrics["docs_per_s"] = (statistics.median(n / p["s"] for p in used), "docs/s")
        metrics["cpu_s_per_kdoc"] = (statistics.median(p["cpu_s"] for p in used) / (n / 1000),
                                     "CPU-s/kdoc")
        metrics["peak_rss_mb"] = (statistics.median(p["peak_rss_mb"] for p in used), "MB")
        metrics["setup_s"] = (statistics.median(s["start_s"] + s["warm_s"] for s in setups), "s")
    attempted = len(passes) + 1
    failed = sum(not p["ok"] for p in passes)

    # correctness, untimed: every row of the program against the oracle
    with tracer.span("check"):
        got, want = oracle_rows(pdf, cpus, lambda: wl.program_rows(df))
        bad = compare(got, want)
    kept = int(got["keep"].sum())
    record["kept"] = kept
    failed += bool(bad)
    problems += bad

    if args.trace:
        ctx = {"seed": args.seed, "work": work, "rows": n, "kept": kept}
        with tracer.span("ledger"):
            layers, bad = wl.ledger(spark, df, tracer.span, ctx)
        attempted += 1
        failed += bool(bad)
        problems += bad
        layers.update(model_body_ms_per_kdoc(sample_texts(pdf, wl.has_html)))
        layers["session.start_s"] = setups[0]["start_s"]
        layers["session.warm_s"] = setups[0]["warm_s"]
        layers["pages.html_mb"] = fp["text_bytes"] / 1e6 if wl.has_html else 0.0
        layers["rules.keep_rate"] = kept / n
        layers["scrub.matches"] = float(got["scrub_count"].sum())
        layers["trace.overhead_s"] = layers["trace.prefix_total_s"] - layers["trace.full_pass_s"]
        if wl.name == "filter_short":
            with tracer.span("scaling"):
                spark, layers["pipeline.scaling_eff_1_to_4"] = scaling(
                    wl, spark, df, corpus_dir, cpus)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        metrics.update({m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"])
                        for m in declared})

    stop_jvm(spark)
    record.update({"spans": tracer.spans, "problems": problems,
                   "steal_jiffies_end": procstat.steal_jiffies(),
                   "load_1m_end": procstat.load_1m()})
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "problems": problems}


def stop_descendants() -> None:
    """Reap every descendant; those still running after STRAY_GRACE_S are
    killed. Orphans come back to this process, the subreaper, so the loop
    ends only when none is left."""
    import procstat

    deadline = time.monotonic() + STRAY_GRACE_S
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        left = procstat.tree()[1:]
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and stop all it started, on every path."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def leave(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, leave)
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--child"])
        return child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if child is not None and child.poll() is None:
            child.terminate()
        stop_descendants()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.child:
        return supervise(sys.argv[1:])

    work_root = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run makes inside the checkout; the program's
    # own settings stay as shipped except the master and SPARK_LOCAL_DIRS
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_root, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
    except ImportError as e:  # not a checkout of the program
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    for p in result.pop("problems"):
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"perfbench: {args.workload} failed/attempted = "
          f"{result['failed']}/{result['attempted']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
