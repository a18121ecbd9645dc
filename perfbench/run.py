"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload copurchase-mining --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The load is a closed
loop: one client in one driver process issues the workload's calls one
after another, each waiting for its result, in a fresh
``local[<nproc>]`` session with the engine's default settings. Passes over
the calls repeat until ``--seconds`` have elapsed (at least one pass).

Outputs are checked after the passes, outside every timed region. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it holds the host
context. Everything the run writes goes under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
RUN_LIMIT_S = 170.0  # a run, traced or not, ends within this many seconds


def _engine_present() -> bool:
    return (ROOT / "peregrine_spark" / "session.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file()


def _prepare_env(cache: Path) -> dict:
    """Keep every file Spark and the JVM write inside the checkout, and
    size the session to this host. Must run before the JVM starts."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = cache / "spark-local"
    tmp = cache / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_LOCAL_DIR": str(local),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # java.io.tmpdir for the JVM; no hsperfdata file under /tmp
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    return env


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_hash() -> str:
    """Hash of the engine's and the benchmark's sources: untraced run_s
    values are only comparable between runs of the same code."""
    h = hashlib.sha256()
    files = [ROOT / "__spark_entry__.py", *sorted((ROOT / "peregrine_spark").rglob("*.py")),
             *sorted((ROOT / "perfbench").glob("*.py"))]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def _baseline_log(cache: Path, args) -> Path:
    return cache / "results" / f"{args.workload}_s{args.seed}_{source_hash()}.jsonl"


def _untraced_run_s(cache: Path, args, started: float, ctx: dict) -> float | None:
    """Median run_s of the untraced runs of this workload, seed and code in
    this checkout. When there is none, one untraced run is made in a child
    process if the time left allows it; None when no baseline is had."""
    log = _baseline_log(cache, args)
    if not log.exists():
        elapsed = time.perf_counter() - started
        left = RUN_LIMIT_S - elapsed
        # the child repeats this run's work without the event log, so it
        # is only started when about as much time is left; the timeout
        # below keeps the whole run within RUN_LIMIT_S
        if left < elapsed:
            ctx["overhead_baseline"] = f"skipped: {left:.0f} s left"
            return None
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        # its own process group, so a timeout also ends the child's JVM
        child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                                 start_new_session=True)
        try:
            code = child.wait(timeout=left)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            for _ in range(100):  # until the group's JVM has gone too
                try:
                    os.killpg(child.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
            code = "timeout"
        if code != 0 or not log.exists():
            ctx["overhead_baseline"] = f"untraced child run failed: {code}"
            return None
    vals = [json.loads(line)["run_s"] for line in log.read_text().splitlines() if line]
    ctx["overhead_baseline"] = f"median of {len(vals)} untraced runs"
    return statistics.median(vals)


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def measure(args, cache: Path, started: float) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    tr = Tracer()
    run_dir = cache / "runs" / f"{args.workload}_s{args.seed}_t{args.trace}_{tr.run_id}"
    work = run_dir / "work"  # the workload's own files, e.g. checkpoints
    work.mkdir(parents=True)

    t0 = time.perf_counter()
    inp = {**wl.prepare(cache, args.seed), "work_dir": str(work)}
    gen_wall_s = time.perf_counter() - t0

    from peregrine_spark.session import get_spark

    conf = {}
    if args.trace:
        (run_dir / "eventlog").mkdir()
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with tr.span("session.start") as s_span:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = s_span.end - s_span.start
    jvm = host.jvm_pid(spark)
    ctx = host.context(spark)

    setup_walls = []
    for i in range(SETUP_REPS):
        with tr.span("setup") as sp:
            st = wl.setup(spark, inp, tr)
        setup_walls.append(sp.end - sp.start)
        if i < SETUP_REPS - 1:
            wl.release(st)

    attempted, failed = 0, 0
    outputs: list[tuple[str, object]] = []
    pass_spans = []
    calls = wl.calls(spark, inp, st, tr)
    ctx["control_before_s"] = host.control_s(spark)
    ticks = host.cpu_ticks()
    t_start = time.perf_counter()
    while True:
        with tr.span("pass") as p:
            for call in calls:
                attempted += 1
                try:
                    with tr.span(call.span):
                        out = call.fn()
                except Exception:  # a failed operation; the loop goes on
                    traceback.print_exc()
                    failed += 1
                    continue
                outputs.append((call.key, out))
        pass_spans.append(p)
        if time.perf_counter() - t_start >= args.seconds:
            break

    # ---- everything below is outside the timed regions
    ctx["steal_frac"] = host.steal_frac(ticks, host.cpu_ticks())
    exp, ref_s, ref_cached = wl.expected(inp, st)
    wrong = []
    for name, ok in wl.check_setup(inp, st, exp).items():
        attempted += 1
        if not ok:
            wrong.append(name)
    for key, out in outputs:
        try:
            ok = wl.check(key, out, exp)
        except Exception:  # an output the check cannot read is wrong
            traceback.print_exc()
            ok = False
        if not ok:
            wrong.append(key)
    failed += len(wrong)
    ckpt_bytes = _du(work)
    ctx["control_after_s"] = host.control_s(spark)
    peak = host.peak_rss_mb(jvm)
    cores = spark.sparkContext.defaultParallelism
    _stop(spark)

    run_s = statistics.median(p.end - p.start for p in pass_spans)
    pass_ids = {p.span_id for p in pass_spans}
    call_wall = sum(s.end - s.start for s in tr.spans if s.parent in pass_ids)
    ctx["call_wall_share"] = call_wall / sum(p.end - p.start for p in pass_spans)
    ctx.update(
        workload=args.workload, seed=args.seed, trace=args.trace, passes=len(pass_spans),
        input_gen_s=inp.get("gen_s"), input_wall_s=gen_wall_s,
        reference_s=ref_s, reference_cached=ref_cached, wrong=wrong,
        setup_walls_s=setup_walls, session_start_s=session_start_s, peak_rss_mb=peak,
    )
    e2e = {
        "setup_s": (session_start_s + statistics.median(setup_walls), "s"),
        "run_s": (run_s, "s"),
    }
    result = {"attempted": attempted, "failed": failed, "e2e": e2e}
    if args.trace:
        from perfbench import layers

        result["layers"] = layers.per_layer(
            tr.spans, run_dir / "eventlog", pass_spans, cores, st, outputs,
            ckpt_bytes, session_start_s, run_s, setup_walls[0],
            _untraced_run_s(cache, args, started, ctx), peak,
        )
        shutil.rmtree(run_dir / "eventlog", ignore_errors=True)
    else:
        log = _baseline_log(cache, args)
        log.parent.mkdir(exist_ok=True)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": args.seed, "run_s": run_s}) + "\n")
    tr.write(run_dir / "spans.jsonl")
    (run_dir / "result.json").write_text(json.dumps({**result, "context": ctx}, default=str))
    shutil.rmtree(work, ignore_errors=True)
    return result, ctx


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.seed %= 2**32  # numpy generators take non-negative seeds

    if not _engine_present():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cache = ROOT / ".perfbench"
    env = _prepare_env(cache)

    result, ctx = measure(args, cache, started)
    ctx["env"] = env
    ctx["wall_s"] = time.perf_counter() - started
    metrics = result["layers"] if args.trace else result["e2e"]
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
