"""One benchmark session: set-up, timed passes over a workload, checks.

run.py starts this in a child process for each run, so set-up time
includes interpreter start.  The session runs the workload's keys one
after another (a closed loop with one client) in passes:

1. the cold pass, the first pass in a fresh session.  It collects every
   key's result to the driver, as a one-shot job would, and those results
   feed the correctness gate;
2. untimed warm-up passes until ``WARMUP_S`` seconds of them have run:
   the first passes after the cold one keep getting faster (JIT), the
   first warm pass by about 1.4x;
3. timed warm passes until ``--seconds`` have passed, at least
   ``MIN_TIMED`` of them.  The reported warm time is the sum over keys of
   each key's median.

Warm-up and timed passes send each key's result to the noop sink.

A fixed control job runs after every pass to record host load; none runs
before the cold pass, so that pass stays cold.  After the timed passes
every collected result is compared with its DuckDB oracle.

With ``--trace 1`` the cold pass is traced and the timed passes run
untraced, traced, traced, untraced (and again), at least
``MIN_TIMED_TRACED`` of them.  A traced pass records spans (run, pass,
key, build, action, control, catalog scan; correctness at the end), Spark
jobs per key (job group + status tracker), bytes written under TMPDIR,
and a noop scan of every table.  A streaming listener counts triggers and
state-store work for the whole run.

Writes one JSON record to ``--out``; run.py turns it into metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import time

WARMUP_S = 8.0
MIN_TIMED = 3
MIN_TIMED_TRACED = 4
SHUFFLE_PARTITIONS = 8


def now() -> float:
    return time.monotonic()


class Tracer:
    """Spans kept in memory: name, start, end, parent and key-execution id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, exec_id: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "exec": exec_id,
            "start": now(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = now()
            self._stack.pop()


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Totals over every micro-batch the session runs."""

        def __init__(self) -> None:
            self.triggers = 0
            self.add_batch_ms = 0
            self.state_commit_ms = 0
            self.final_state_rows: dict[str, int] = {}
            self.last_event = now()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.triggers += 1
            self.add_batch_ms += p.durationMs.get("addBatch", 0)
            self.state_commit_ms += sum(op.commitTimeMs for op in p.stateOperators)
            self.final_state_rows[str(p.runId)] = sum(
                op.numRowsTotal for op in p.stateOperators
            )
            self.last_event = now()

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def file_sizes(root: str) -> dict[str, int]:
    sizes = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with contextlib.suppress(FileNotFoundError):
                sizes[path] = os.path.getsize(path)
    return sizes


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Session:
    def __init__(self, spark, args, keys: tuple[str, ...]) -> None:
        from recommendersystems_bigdata_spark import registry

        self.spark = spark
        self.sc = spark.sparkContext
        self.corpus = args.corpus
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.keys = keys
        self.fns = {k: registry.QUERIES[k] for k in keys}
        self.order_rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.passes: list[dict] = []
        self.controls: list[float] = []
        self.scans: list[float] = []
        self.errors: list[dict] = []
        self.collected: dict[str, object] = {}
        self.tmp_root = os.environ["TMPDIR"]

    def control(self) -> None:
        with self.tracer.span("control"):
            t0 = now()
            noop(
                self.spark.range(0, 2_000_000, 1, 4)
                .selectExpr("id % 2048 AS k", "id * 3 AS v")
                .groupBy("k")
                .sum("v")
            )
            self.controls.append(now() - t0)

    def scan_all(self) -> None:
        from recommendersystems_bigdata_spark.catalog import TABLES, load_table

        with self.tracer.span("catalog.scan"):
            t0 = now()
            for t in TABLES:
                noop(load_table(self.spark, self.corpus, t))
            self.scans.append(now() - t0)

    def run_pass(self, kind: str, traced: bool) -> None:
        """One pass over the keys in seeded order, then the control job."""
        order = self.order_rng.sample(self.keys, len(self.keys))
        rec = {"kind": kind, "traced": traced, "order": order, "keys": {}}
        self.tracer.enabled = traced
        with self.tracer.span(f"pass.{kind}"):
            for key in order:
                rec["keys"][key] = self.run_key(key, len(self.passes), kind, traced)
        self.passes.append(rec)
        self.control()
        self.tracer.enabled = False

    def run_key(self, key: str, index: int, kind: str, traced: bool) -> dict:
        exec_id = f"{index}:{key}"
        out = {"build_s": 0.0, "action_s": 0.0}
        if traced:
            self.sc.setJobGroup(exec_id, key)
            before = file_sizes(self.tmp_root)
        t0 = now()
        try:
            with self.tracer.span("key", exec_id):
                with self.tracer.span("build", exec_id):
                    df = self.fns[key](self.spark, self.corpus)
                t1 = now()
                with self.tracer.span("action", exec_id):
                    if kind == "cold":
                        self.collected[key] = df.toPandas()
                    else:
                        noop(df)
                t2 = now()
            out.update(build_s=t1 - t0, action_s=t2 - t1)
        except Exception as exc:  # noqa: BLE001 — a failing key is counted, the run goes on
            out["error"] = f"{type(exc).__name__}: {exc}"[:500]
            self.errors.append({"pass": index, "key": key, "error": out["error"]})
        if traced:
            out["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(exec_id))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            after = file_sizes(self.tmp_root)
            out["written_bytes"] = sum(
                max(0, size - before.get(path, 0)) for path, size in after.items()
            )
        return out

    def run(self) -> dict:
        listener = None
        if self.trace:
            listener = make_listener()
            self.spark.streams.addListener(listener)
        self.tracer.enabled = self.trace
        with self.tracer.span("run"):
            self.run_pass("cold", traced=self.trace)
            t_start = now()
            while now() - t_start < WARMUP_S:
                self.run_pass("warmup", traced=False)
            t_start, timed = now(), 0
            min_timed = MIN_TIMED_TRACED if self.trace else MIN_TIMED
            while now() - t_start < self.seconds or timed < min_timed:
                # Traced runs alternate untraced, traced, traced, untraced,
                # so a pass-to-pass drift cancels out of the overhead.
                traced = self.trace and timed % 4 in (1, 2)
                if traced:
                    self.tracer.enabled = True
                    self.scan_all()
                self.run_pass("timed", traced=traced)
                timed += 1
            stream = None
            if listener is not None:
                # Progress events reach Python asynchronously; wait for quiet.
                deadline = now() + 5
                while now() < deadline and now() - listener.last_event < 1.0:
                    time.sleep(0.2)
                stream = {
                    "triggers": listener.triggers,
                    "add_batch_ms": listener.add_batch_ms,
                    "state_commit_ms": listener.state_commit_ms,
                    "state_rows": sum(listener.final_state_rows.values()),
                }
            jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
            peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
            self.spark.stop()
            self.tracer.enabled = self.trace
            problems = self.gate()
        return {
            "passes": self.passes,
            "controls": self.controls,
            "scans": self.scans,
            "stream": stream,
            "errors": self.errors,
            "peak_rss_mb": peak_rss_mb,
            "problems": problems,
            "spans": self.tracer.spans,
        }

    def gate(self) -> dict[str, str]:
        """Compare each collected result with its oracle; key -> problem."""
        import duckdb

        from recommendersystems_bigdata_spark import registry
        from recommendersystems_bigdata_spark.catalog import TABLES
        from recommendersystems_bigdata_spark.oracle import compare_frames

        problems: dict[str, str] = {}
        with self.tracer.span("correctness"):
            con = duckdb.connect()
            try:
                for t in TABLES:
                    path = os.path.join(self.corpus, f"{t}.parquet")
                    src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
                for key in self.keys:
                    pdf = self.collected.get(key)
                    if pdf is None:
                        problems[key] = "no result"
                    elif key not in registry.ORACLES:
                        problems[key] = "no oracle"
                    else:
                        res = compare_frames(key, pdf, con.execute(registry.ORACLES[key]).df())
                        if not res.ok:
                            problems[key] = res.message()[:500]
            finally:
                con.close()
        return problems


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--launched", type=float, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--setup-only", action="store_true")
    p.add_argument("--workload")
    p.add_argument("--corpus")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()

    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.session import get_spark

    t0 = now()
    spark = get_spark(app_name="perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
    t1 = now()
    registry.load_all()
    t2 = now()
    setup = {"setup_s": t2 - args.launched, "get_spark_s": t1 - t0, "load_all_s": t2 - t1}
    record: dict = {"setup": setup}
    try:
        if not args.setup_only:
            from workloads import ALL_KEYS, WORKLOADS

            spark.sparkContext.setLogLevel("ERROR")
            session = Session(spark, args, WORKLOADS[args.workload]["keys"])
            record.update(session.run())
            record["layers"] = {
                k: registry.QUERIES[k].__module__.split(".")[1] for k in ALL_KEYS
            }
    finally:
        spark.stop()
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(record, fh)


if __name__ == "__main__":
    main()
