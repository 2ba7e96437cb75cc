"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql_x10 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  It builds the seeded corpus once under
``perfbench/.work/corpus`` (outside every timed region), starts
session_loop.py in a child process for the run itself, then starts it once
more to time set-up alone; ``setup_s`` is the median of the two.  It prints
one line per metric and, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json ``end_to_end``),
``--trace 1`` the per-layer ones.  The full run record (every pass, its key
order, per-key times, control times, load average, CPU steal, nproc) is
written to ``perfbench/.work/results``; a traced run also writes its spans
to ``perfbench/.work/traces``.  Exits non-zero without a result when the
package or a run step is missing or fails.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "recommendersystems_bigdata_spark"
REPLICA_K = 10
SETUP_PROBES = 1
CPUS = 4  # fixed, so every host splits the work into the same tasks
HEAP = "2g"
RUN_TIMEOUT_S = 150
HARD_LIMIT_S = 160

sys.path.insert(0, HERE)

from workloads import ALL_KEYS, WORKLOADS  # noqa: E402


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def marked_pids(marker: str) -> list[int]:
    """Processes whose environment carries this run's marker."""
    needle = f"PERFBENCH_RUN={marker}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def reap(marker: str) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.monotonic() + 15
    while marked_pids(marker) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in marked_pids(marker):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while marked_pids(marker):
        time.sleep(0.1)


def child(args: list[str], env: dict, cwd: str, log, timeout: float) -> dict:
    out = os.path.join(cwd, f"record-{uuid.uuid4().hex[:8]}.json")
    cmd = [sys.executable, os.path.join(HERE, "session_loop.py"), "--out", out]
    launched = time.monotonic()
    proc = subprocess.Popen(
        cmd + ["--launched", repr(launched)] + args,
        env=env, cwd=cwd, stdout=log, stderr=log, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"session timed out after {timeout:.0f} s")
    finally:
        reap(env["PERFBENCH_RUN"])
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"session exited with code {code}")
    with open(out, encoding="utf-8") as fh:
        rec = json.load(fh)
    rec["wall_s"] = time.monotonic() - launched
    return rec


def key_s(p: dict, key: str) -> float:
    return p["keys"][key]["build_s"] + p["keys"][key]["action_s"]


def pass_total(p: dict) -> float:
    return sum(key_s(p, k) for k in p["keys"])


def key_median(passes: list[dict], key: str, field: str) -> float:
    return statistics.median(p["keys"][key][field] for p in passes)


def end_to_end(rec: dict, setups: list[dict], attempted: int, failed: int) -> dict:
    passes = rec["passes"]
    cold = next(p for p in passes if p["kind"] == "cold")
    timed = [p for p in passes if p["kind"] == "timed"]
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "cold_pass_s": (pass_total(cold), "s"),
        "warm_pass_s": (
            sum(statistics.median(key_s(p, k) for p in timed) for k in cold["order"]),
            "s",
        ),
        "ok_frac": (1 - failed / attempted, "ratio"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


def per_layer(rec: dict, setups: list[dict]) -> dict:
    passes = rec["passes"]
    traced = [p for p in passes if p["kind"] == "timed" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "timed" and not p["traced"]]
    m: dict[str, tuple[float, str]] = {}
    for key in ALL_KEYS:
        name = f"{rec['layers'][key]}.{key}"
        ran = key in traced[0]["keys"]
        # Keys of other workloads did not run: zero time, zero jobs.
        m[f"{name}.build_s"] = (key_median(traced, key, "build_s") if ran else 0.0, "s")
        m[f"{name}.action_s"] = (key_median(traced, key, "action_s") if ran else 0.0, "s")
        m[f"{name}.jobs"] = (key_median(traced, key, "jobs") if ran else 0, "count")
    m["session.get_spark_s"] = (statistics.median(s["get_spark_s"] for s in setups), "s")
    m["registry.load_all_s"] = (statistics.median(s["load_all_s"] for s in setups), "s")
    m["session.control_s"] = (statistics.median(rec["controls"]), "s")
    m["catalog.scan_s"] = (statistics.median(rec["scans"]), "s")
    n = len(passes)
    stream = rec["stream"]
    m["streaming.triggers"] = (stream["triggers"] / n, "count")
    m["streaming.add_batch_ms"] = (stream["add_batch_ms"] / n, "ms")
    m["streaming.state_commit_ms"] = (stream["state_commit_ms"] / n, "ms")
    m["streaming.state_rows"] = (stream["state_rows"] / n, "rows")
    m["tmpdirs.written_mb"] = (
        statistics.median(
            sum(k["written_bytes"] for k in p["keys"].values()) for p in traced
        ) / 1e6,
        "MB",
    )
    m["bench.trace_overhead_s"] = (
        statistics.median(map(pass_total, traced))
        - statistics.median(map(pass_total, untraced)),
        "s",
    )
    return m


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t_begin = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        die(f"no {PACKAGE} package under {ROOT}; run from a full checkout")
    import corpus

    corpora = corpus.ensure(os.path.join(WORK, "corpus"), REPLICA_K)
    wl = WORKLOADS[args.workload]

    marker = uuid.uuid4().hex
    run_dir = os.path.join(WORK, f"run-{marker[:12]}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(
        os.environ,
        PERFBENCH_RUN=marker,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYTHONWARNINGS="ignore",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        # Every JVM, the spark-submit launcher too, keeps its files in the run dir.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # A heap fixed from the start: a growing one keeps passes speeding up
        # for the whole run and leaves peak RSS to GC timing.
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Xms{HEAP} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    load_start, steal_start = os.getloadavg(), cpu_steal()
    log_path = os.path.join(WORK, "last-run.log")
    try:
        with open(log_path, "w", encoding="utf-8") as log:
            rec = child(
                ["--workload", args.workload, "--corpus", corpora[wl["corpus"]],
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                env, run_dir, log, RUN_TIMEOUT_S - (time.monotonic() - t_begin),
            )
            setups = [rec["setup"]]
            for _ in range(SETUP_PROBES):
                left = HARD_LIMIT_S - (time.monotonic() - t_begin)
                probe = child(["--setup-only"], env, run_dir, log, left)
                setups.append(dict(probe["setup"], wall_s=probe["wall_s"]))
    except RuntimeError as exc:
        die(f"{exc}; see {log_path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    steal_end = cpu_steal()
    attempted = sum(len(p["keys"]) for p in rec["passes"])
    bad = rec["problems"]
    failed = len(rec["errors"]) + len(bad)
    if args.trace:
        metrics = per_layer(rec, setups)
    else:
        metrics = end_to_end(rec, setups, attempted, failed)

    rec.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        setups=setups,
        host={
            "nproc": os.cpu_count(),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            # Share of CPU time the hypervisor gave to other guests.
            "steal_frac": (steal_end[0] - steal_start[0])
            / max(1, steal_end[1] - steal_start[1]),
        },
    )
    spans = rec.pop("spans")
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for sub, payload in (("results", rec), ("traces", spans if args.trace else None)):
        if payload is not None:
            os.makedirs(os.path.join(WORK, sub), exist_ok=True)
            with open(os.path.join(WORK, sub, f"{stem}.json"), "w", encoding="utf-8") as fh:
                json.dump(payload, fh)

    for key, problem in sorted(bad.items()):
        print(f"MISMATCH {key}: {problem}")
    for err in rec["errors"]:
        print(f"ERROR pass {err['pass']} {err['key']}: {err['error']}")
    print(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} key executions)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
