"""End-to-end benchmark of the CLI verbs a user runs.

Usage (from the repository root):

    python3 perfbench/run.py --workload mask_dump --seed 1 --seconds 1 --trace 0

One run builds its inputs from ``--seed`` (``perfbench/gen_base.py``, then
``tools/make_sf.py``), starts one ``local[nproc]`` session and runs the
workload's verb in it, back to back, until ``--seconds`` have passed since
the first op started, from this single driver process (a closed loop with
one client). The end-to-end figures are those of the warm ops after the
first one, or of the first (cold) op when it alone fills ``--seconds``,
as it does at the 1 s that BENCHMARK.json sets. Every op's output is
checked outside the timed region.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. A traced run interleaves untraced and traced
ops, so the tracing overhead is measured in the same run. A fuller report
(every sample with its contention evidence, and the spans of a traced run)
goes to ``.perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: idle run time of ``canary()`` on a 4-core x86 host (PySpark 4.1.2,
#: Java 17, no other load); an op whose neighbouring canary exceeds
#: twice this floor is flagged as contended
CANARY_FLOOR_S = 0.045

#: share of the host's CPU time stolen by the hypervisor during an op
#: above which the op is flagged as contended: latency-bound ops slow
#: down several times more than the stolen share, and the canary, being
#: single-threaded, barely moves at this level
STEAL_LIMIT = 0.05

#: warm ops of a traced run: untraced, traced, untraced
TRACED_OPS = 3

#: driver heap, fixed (-Xms = -Xmx) and touched at start
#: (AlwaysPreTouch). With the package's default (8g at most, grown by G1
#: as it sees fit) the JVM's peak RSS on the same op ranged 3.2-4.6 GB
#: from run to run, and with a fixed but untouched heap 1.25-1.47 GB, by
#: how much of the heap G1 had touched. With the whole heap resident the
#: peak moves only with what the program holds off the heap. The ops
#: took the same time with the default heap and with the fixed one.
DRIVER_MEM = "1g"


def canary(n: int = 400_000) -> float:
    """Fixed single-threaded CPU work; slows when other load takes the
    cores the benchmark needs."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i % 7
    return time.perf_counter() - t0


def pin_env(work: str) -> int:
    """Environment of the session and its Python workers. Returns nproc."""
    nproc = os.cpu_count() or 1
    env = os.environ
    # the package's own switches (spread, checkpoint level, global salt)
    # stay at their defaults: a benchmark run measures what a user gets.
    # Only the CPU count and the heap size (DRIVER_MEM) are set below.
    for key in [k for k in env if k.startswith(("SPARK_GRAFT_", "GREENMASK_"))]:
        del env[key]
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"])
    return nproc


def make_inputs(work: str, seed: int, mult: int) -> str:
    base = os.path.join(work, "base")
    inputs = os.path.join(work, "inputs")
    subprocess.run([sys.executable, os.path.join(HERE, "gen_base.py"), base,
                    "--seed", str(seed)], check=True)
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_sf.py"),
                    inputs, "--base", base, "--mult", str(mult),
                    "--seed", str(seed)],
                   check=True, stdout=subprocess.DEVNULL)
    return inputs


def check_workers(spark) -> None:
    """Fail loudly when Python workers cannot import the package (Template
    and Cmd steps run there); otherwise it shows up as failed tables.
    This is the session's first job: it pays the Python daemon's start."""
    def probe(it):
        import pandas as pd

        import greenmask_spark

        for _ in it:
            pass
        yield pd.DataFrame({"path": [greenmask_spark.__file__]})

    spark.range(1).mapInPandas(probe, "path string").collect()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds() -> float:
    """User + system CPU of this process and its live descendants (the
    JVM, Python workers, Cmd children), including what each has reaped
    from children that exited."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(f) for f in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def rss_pids() -> list[int]:
    """This driver process and the JVM it launched."""
    return [os.getpid()] + [p for p in _descendants(os.getpid())
                            if _comm(p) == "java"]


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's peak RSS (VmHWM) from its current RSS, so
    the peak read after an op covers that op only, not the benchmark's
    own DuckDB work before it. Where the kernel refuses, the peak covers
    the process's life so far."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> tuple[float, float]:
    """(driver, JVM) peak RSS in MB since the last reset."""
    kb = [_hwm_kb(p) for p in pids]
    return kb[0] / 1024, sum(kb[1:]) / 1024


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def _reap(pids) -> None:
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def _wait_gone(pids, timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to end; returns the
    ones still running."""
    deadline = time.monotonic() + timeout
    while True:
        _reap(pids)
        left = [p for p in pids if _running(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_processes(spark) -> None:
    """Stop the session, the JVM behind it and every process either
    started (Python daemon and workers, Cmd children), and wait until
    each has ended. ``spark.stop()`` alone leaves the JVM running until
    this process exits, and the JVM's children a while longer."""
    pids = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None
        if proc is not None:
            # the JVM ends itself when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = _wait_gone(pids, 5)
    for sig, timeout in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, timeout)
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)


def versions() -> dict:
    import pyspark

    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True).stderr.splitlines()
        java = out[0] if out else ""
    except OSError:
        java = ""
    return {"nproc": os.cpu_count(), "pyspark": pyspark.__version__,
            "java": java, "python": sys.version.split()[0]}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers
    import workloads

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    reports = os.path.join(ROOT, ".perfbench", "reports")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(reports, exist_ok=True)
    nproc = pin_env(work)
    env = versions()
    spark = tracer = None
    try:
        cpu_start = cpu_seconds()
        t0 = time.perf_counter()
        inputs = make_inputs(work, args.seed, workloads.MULT)
        with duckdb.connect() as con:
            workloads.check_input_rows(con, inputs)
        inputs_s = time.perf_counter() - t0

        from greenmask_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", **{
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](inputs, work, args.seed)
        t0 = time.perf_counter()
        if wl.python_workers:
            check_workers(spark)
        probe_s = time.perf_counter() - t0
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            layers.install(tracer)
            wl.tracer = tracer

        samples = []
        pids = rss_pids()

        def one_op(i: int, traced: bool) -> dict:
            before = canary()
            load1 = os.getloadavg()[0]
            reset_peak_rss(pids)
            cpu0 = cpu_seconds()
            steal0, total0 = cpu_times()
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.op(f"op{i}", f"op.{args.workload}"):
                        s = wl.op(i)
                    tracer.collect(f"op{i}")
                else:
                    s = wl.op(i)
                raised = None
            except Exception as exc:  # a verb that raises is a failed op
                s = {"op_s": time.perf_counter() - t0, "out_bytes": 0}
                raised = f"op raised {exc!r}"
            s["cpu_s"] = cpu_seconds() - cpu0
            s["driver_rss_mb"], s["jvm_rss_mb"] = peak_rss_mb(pids)
            steal1, total1 = cpu_times()
            # share of the host's CPU time the hypervisor gave to others
            s["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
            if raised:
                failures = [raised]
            else:
                try:
                    failures = wl.check(s)
                except Exception as exc:  # a malformed output fails too
                    failures = [f"check raised {exc!r}"]
                wl.cleanup(s)
            rec = {k: v for k, v in s.items() if k not in ("stdout", "paths")}
            rec.update(i=i, traced=traced, failures=failures,
                       canary_before_s=before, load1_before=load1)
            samples.append(rec)
            return rec

        # set-up cost in CPU seconds, like op_cpu_s: input generation (its
        # reaped subprocesses), session start, the probe and the cold op
        setup_cpu_s = cpu_seconds() - cpu_start
        t_start = time.perf_counter()
        cold = one_op(0, False)
        setup_cpu_s += cold["cpu_s"]
        setup_wall_s = inputs_s + session_s + probe_s + cold["op_s"]

        # a traced run adds warm ops that alternate untraced and traced
        # and end on an untraced one, so each traced op sits between two
        # untraced ones and the warm-up still going on cancels out of the
        # overhead
        i = 1
        while ((args.trace and i - 1 < TRACED_OPS) or samples[-1]["traced"]
               or time.perf_counter() - t_start < args.seconds):
            one_op(i, bool(args.trace) and i % 2 == 0)
            i += 1
        after = canary()
        for k, s in enumerate(samples):
            nxt = samples[k + 1]["canary_before_s"] if k + 1 < len(samples) \
                else after
            s["canary_after_s"] = nxt
            s["contended"] = (max(s["canary_before_s"], nxt)
                              > 2 * CANARY_FLOOR_S
                              or s["steal_share"] > STEAL_LIMIT)

        # the measured ops: the untraced ops after the cold one, or the
        # cold op itself when it alone filled --seconds
        warm = [s for s in samples[1:] if not s["traced"]] or samples[:1]
        # a failed op has no valid output: time the ops that succeeded
        warm = [s for s in warm if not s["failures"]] or warm
        op_s = _median([s["op_s"] for s in warm])
        result = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "env": env,
            "inputs_s": inputs_s, "session_s": session_s,
            "probe_s": probe_s, "cold_op_s": cold["op_s"],
            "setup_wall_s": setup_wall_s,
            "samples": samples, "canary_floor_s": CANARY_FLOOR_S,
            # wall-time figures: reported, not gated (see README)
            "op_s": op_s, "op_samples": len(warm),
            "rows_per_s": wl.input_rows() / op_s,
            "restore_s": _median([s.get("restore_s", 0.0) for s in warm]),
            "steal_share": _median([s["steal_share"] for s in warm]),
            "contended_ops": sum(s["contended"] for s in samples),
            "canary_max_s": max(s["canary_before_s"] for s in samples),
        }
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "op_cpu_s": (_median([s["cpu_s"] for s in warm]), "s"),
            "out_bytes_per_in_byte": (
                _median([s["out_bytes"] for s in warm]) / wl.input_bytes(),
                "ratio"),
            # the user's peak: the largest over every op of the run
            "peak_rss_mb": (max(s["driver_rss_mb"] + s["jvm_rss_mb"]
                                for s in samples), "MB"),
        }
        if args.trace:
            traced = [s for s in samples if s["traced"]]
            per_op = [layers.layer_metrics(tracer, f"op{s['i']}", wl, s,
                                           nproc)
                      for s in traced]
            metrics = {
                name: (_median([m[name][0] for m in per_op]), unit)
                for name, unit in layers.per_layer_units()
            }
            metrics["session.start_s"] = (session_s, "s")
            metrics["trace.overhead_s"] = (
                _median([s["op_s"] for s in traced]) - op_s, "s")
            with open(os.path.join(
                    reports, f"spans-{args.workload}-{args.seed}.json"),
                    "w") as fh:
                json.dump(tracer.spans, fh, indent=1, default=str)
        failed = sum(bool(s["failures"]) for s in samples)
        result.update(
            attempted=len(samples), failed=failed,
            failed_ops_ratio=failed / len(samples),
            metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        )
        with open(os.path.join(
                reports, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
                "w") as fh:
            json.dump(result, fh, indent=1, default=str)
        return result
    finally:
        if tracer is not None:
            tracer.close()
        stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ("greenmask_spark", os.path.join("tools", "make_sf.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a run stopped from outside still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        print("perfbench: run failed", file=sys.stderr)
        return 1
    print(json.dumps({k: result[k] for k in (
        "workload", "seed", "setup_wall_s", "op_s", "op_samples",
        "rows_per_s", "restore_s",
        "failed_ops_ratio", "steal_share", "contended_ops", "canary_max_s",
        "env")}))
    for s in result["samples"]:
        if s["failures"]:
            print(f"op {s['i']} failed: {s['failures'][:3]}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
