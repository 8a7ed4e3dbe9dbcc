"""One benchmark run: set-up, a timed workload window, a parity gate.

A run starts one Spark JVM at ``local[nproc - 1]``, builds a base table
(bootstrap repeated ``setup_repeats`` times, the median of the warm repeats
is reported), runs one workload for the window, then checks the final table
against the single-process oracle fold of everything it was fed. See ``run.py`` for
the command line and ``workloads.json`` for the generator parameters.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import gen

HERE = os.path.dirname(os.path.abspath(__file__))

E2E = [
    ("setup_s", "s"),
    ("bootstrap_rows_per_s", "1/s"),
    ("catchup_events_per_s", "1/s"),
    ("freshness_p50_s", "s"),
    ("freshness_p90_s", "s"),
    ("apply_p50_s", "s"),
    ("read_cycle_p50_s", "s"),
]
WORKLOADS = ("migrate", "tail")


def load_params(workload: str, tiny: bool = False) -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    p = {**cfg["common"], **cfg[workload]}
    if tiny:
        p.update(cfg["tiny"]["common"])
        p.update(cfg["tiny"][workload])
    return p


def host_cpus() -> int:
    """Spark task slots: all CPUs but one, which is left to the driver
    process, the Python workers and the generator thread (at one slot per
    CPU, run-to-run spread roughly doubled)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def driver_memory() -> str:
    """A sixth of host RAM, between 1 and 4 GiB (the session default of 48g
    would overcommit a small host)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(max(kb // 6 // 1024, 1024), 4096)}m"


def pct(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if len(xs) else 0.0


@dataclass
class FeedFile:
    path: str
    df: pd.DataFrame
    max_seq: int
    avail: float = 0.0  # wall time the file became (or was due to become) available


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, tiny: bool = False, cpus: int | None = None,
                 tamper: bool = False):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.tamper = trace, tamper
        self.p = load_params(workload, tiny)
        self.cpus = cpus or host_cpus()
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.feed_dir = os.path.join(self.work, "feed")
        self.view_path = os.path.join(self.work, "view")
        self.files: list[FeedFile] = []
        self.feed_rows: dict[str, int] = {}
        self.next_seq = 0
        self.read_cycle_s: list[float] = []
        self.apply_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}
        self.errors: list[str] = []

    # -- inputs -----------------------------------------------------------

    def new_file(self, n_events: int, touch_frac: float, out_dir: str | None = None) -> FeedFile:
        p = self.p
        index = len(self.files)
        df = gen.make_events(self.seed, index, self.next_seq, n_events, p["n_convs"],
                             p["max_turns"], p["hot_frac"], p["delete_frac"], touch_frac)
        self.next_seq += n_events
        path = os.path.join(out_dir or self.feed_dir, f"changes-{index:06d}.parquet")
        gen.write_events(path, df)
        f = FeedFile(path, df, int(df["seq"].iloc[-1]))
        self.files.append(f)
        self.feed_rows[os.path.abspath(path)] = n_events
        return f

    # -- session and set-up -----------------------------------------------

    def start_spark(self):
        from couch_to_mongo_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_DRIVER_MEM"] = driver_memory()
        # keep every write inside the work dir: Python temp files, JVM temp
        # files, and no hsperfdata file in the system temp dir (applies to
        # the launcher JVM as well as the driver)
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return get_spark(f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf)

    def setup(self) -> None:
        from couch_to_mongo_spark import bootstrap
        from couch_to_mongo_spark.schemas import TRANSCRIPT_SCHEMA

        p = self.p
        os.makedirs(self.feed_dir, exist_ok=True)
        t = time.perf_counter()
        self.snapshot = gen.make_snapshot(self.seed, p["n_convs"], p["max_turns"])
        snap_dir = os.path.join(self.work, "snapshot")
        os.makedirs(snap_dir)
        self.snapshot.to_parquet(os.path.join(snap_dir, "part-0.parquet"), index=False,
                                 coerce_timestamps="us")
        self.info["gen_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = self.start_spark()
        self.info["session_s"] = time.perf_counter() - t
        if self.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark, self.feed_rows, self.feed_dir)
            self.tracer.install()

        # bootstrap repeated into fresh tables: the first (cold) one only
        # warms the JVM and the Python workers; the median of the rest is
        # reported
        boot = []
        for i in range(p["setup_repeats"]):
            path = os.path.join(self.work, f"table{i}")
            src = self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(snap_dir)
            t = time.perf_counter()
            bootstrap.bulk_bootstrap(self.spark, path, src, n_buckets=p["n_buckets"])
            boot.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(os.path.join(self.work, f"table{i - 1}"))
        self.table_path = path
        self.info["bootstrap_s"] = boot

        # a small availableNow catch-up warms the streaming + merge path and
        # leaves a few merge-on-read delta files in the base table
        for _ in range(p["prefeed_files"]):
            self.new_file(p["prefeed_events"], 1.0)
        self.pipe = self.make_pipeline()
        t = time.perf_counter()
        self.pipe.run_available()
        self.info["prefeed_s"] = time.perf_counter() - t
        for f in self.files:
            f.avail = 0.0  # set-up files: not part of freshness

        from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView

        t = time.perf_counter()
        if self.pipe.view is not None:
            self.view = self.pipe.view  # caught up by the pipeline's maintenance
        else:
            self.view = RenderedCorpusView(self.spark, self.pipe.table, self.view_path,
                                           n_buckets=p["n_buckets"])
            self.view.catch_up()
        self.info["view_s"] = time.perf_counter() - t
        self.base_version = self.pipe.table.latest_version()
        self.info["setup_s"] = (self.info["session_s"] + statistics.median(boot[1:])
                                + self.info["prefeed_s"] + self.info["view_s"])

    def make_pipeline(self):
        from couch_to_mongo_spark.streaming.cdc import CdcPipeline

        p = self.p
        apply_s = self.apply_s

        class TimedPipeline(CdcPipeline):
            """Records each micro-batch's wall time (the stream's apply)."""

            def process_batch(self, batch_df, batch_id):
                t = time.perf_counter()
                try:
                    super().process_batch(batch_df, batch_id)
                finally:
                    apply_s.append(time.perf_counter() - t)

        maintain = "view_refresh_every" in p
        return TimedPipeline(
            self.spark, self.table_path, self.feed_dir, os.path.join(self.work, "ckpt"),
            n_buckets=p["n_buckets"],
            max_files_per_trigger=p.get("max_files_per_trigger"),
            compact_threshold=p["compact_threshold"],
            maintain_view=self.view_path if maintain else None,
            view_refresh_every=p.get("view_refresh_every", 1),
        )

    # -- workloads ----------------------------------------------------------

    def window(self) -> None:
        """The ingest window, then the read phase on the table it left."""
        self.apply_s.clear()  # drop the set-up catch-up's batches
        self.t0 = time.perf_counter()
        getattr(self, f"run_{self.workload}")()
        self.t1 = time.perf_counter()
        # stream micro-batches are attempted operations too (a batch that
        # raised would have ended the run)
        self.attempted += len(self.apply_s)
        self.read_phase()
        self.t2 = time.perf_counter()
        self.info["read_phase_s"] = self.t2 - self.t1

    def read_phase(self) -> None:
        """One closed-loop client, after ingest so reads and writes do not
        contend: per cycle one point lookup (``read_state``), one changelog
        read (``read_appended``) of one of the window's merge commits, and
        one corpus-view document read. A cycle is timed as a whole (each of
        the three alone spread up to twice as much from run to run); the
        first ``read_warmup`` cycles are not timed, the first reads of a run
        are up to twice as slow."""
        from pyspark.sql import functions as F

        from couch_to_mongo_spark.operators.merge import read_state

        table, view = self.pipe.table, self.view
        rng = np.random.default_rng([self.seed, 3])
        warmup = self.p["read_warmup"]
        convs = gen.conv_ids(rng.choice(self.p["n_convs"], warmup + self.p["read_cycles"]))
        commits = [v for v in range(self.base_version + 1, table.latest_version() + 1)
                   if table.snapshot(v, materialize=False).lineage.get("op") != "compact"]
        for i, c in enumerate(convs):
            v = commits[i % len(commits)]
            t = time.perf_counter()
            ok = [self.op("lookup", lambda: read_state(table).where(F.col("conv_id") == c)
                          .toPandas()),
                  self.op("changelog", lambda: table.read_appended(v - 1, version=v).toPandas()),
                  self.op("view_doc", lambda: view.read().where(F.col("conv_id") == c)
                          .toPandas())]
            if i >= warmup and all(ok):
                self.read_cycle_s.append(time.perf_counter() - t)

    def op(self, kind: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # a failed read counts; the phase goes on
            self.failed += 1
            self.errors.append(f"{kind} failed: {e!r}")
            return False

    def run_migrate(self) -> None:
        p = self.p
        staging = os.path.join(self.work, "staging")
        os.makedirs(staging)
        busy = 0.0
        # a fixed amount of work per window length (not a time budget), so
        # every run leaves a table of the same size for the read phase
        rounds = max(1, round(self.seconds / p["round_s"]))
        for _ in range(rounds):
            per_file = p["round_events"] // p["round_files"]
            batch = [self.new_file(per_file, 1.0, staging) for _ in range(p["round_files"])]
            now = time.time()
            for k, f in enumerate(batch):
                # publish the backlog with strictly increasing mtimes so the
                # file source's pickup order is seq order
                dst = os.path.join(self.feed_dir, os.path.basename(f.path))
                os.utime(f.path, (now + k * 1e-3, now + k * 1e-3))
                os.replace(f.path, dst)
                self.feed_rows[os.path.abspath(dst)] = self.feed_rows.pop(os.path.abspath(f.path))
                f.path, f.avail = dst, now
            t = time.perf_counter()
            self.pipe.run_available()
            busy += time.perf_counter() - t
        self.busy_s = busy

    def run_tail(self) -> None:
        p = self.p
        done = threading.Event()
        lateness: list[float] = []

        def generate():
            start = time.time()
            k = 0
            while k * p["interval_s"] < self.seconds:
                due = start + k * p["interval_s"]
                time.sleep(max(0.0, due - time.time()))
                f = self.new_file(p["file_events"], p["touch_frac"])
                f.avail = due
                lateness.append(time.time() - due)
                k += 1
            done.set()

        g = threading.Thread(target=generate, daemon=True)
        deadline = [None]

        def until(pipe) -> bool:
            if not done.is_set():
                return False
            if deadline[0] is None:
                deadline[0] = time.perf_counter() + p["drain_timeout_s"]
            hwm = pipe.table.seq_high_water()
            return (hwm is not None and hwm >= self.files[-1].max_seq) \
                or time.perf_counter() > deadline[0]

        g.start()
        self.pipe.tail(processing_time=p["trigger"], until=until, poll_seconds=0.2)
        g.join()
        self.busy_s = sum(self.apply_s)
        self.info["gen_lateness_p50_s"] = pct(lateness, 50)
        self.info["gen_lateness_max_s"] = max(lateness)

    # -- results ------------------------------------------------------------

    def freshness(self) -> list[float]:
        """Per window file: first commit whose source seq range covers the
        file's last event, minus when the file became available. Commits are
        read from the table's own snapshot log; a file never covered
        counts as failed."""
        table = self.pipe.table
        commits = []
        for v in range(self.base_version + 1, table.latest_version() + 1):
            s = table.snapshot(v, materialize=False)
            if s.lineage.get("seq_max") is not None and s.lineage.get("op") != "compact":
                commits.append((s.lineage["seq_max"], s.committed_at))
        out = []
        for f in self.files:
            if not f.avail:
                continue
            self.attempted += 1
            when = [c for m, c in commits if m >= f.max_seq]
            if when:
                out.append(min(when) - f.avail)
            else:
                self.failed += 1
                self.errors.append(f"{os.path.basename(f.path)} never applied")
        return out

    def parity(self) -> None:
        """Final primary state vs the oracle fold of snapshot + every file
        fed; where the pipeline maintains the corpus view, also the view vs a
        full re-render of the primary."""
        from couch_to_mongo_spark import oracle
        from couch_to_mongo_spark.functions.transcripts import render_conversations
        from couch_to_mongo_spark.operators.merge import read_state

        table = self.pipe.table
        if self.tamper:
            self.tamper_table()
        fed = [gen.snapshot_as_events(self.snapshot)] + [f.df for f in self.files]
        expected = oracle.expected_state(pd.concat(fed, ignore_index=True))
        actual = read_state(table).toPandas()
        self.check("primary", lambda: oracle.assert_state_parity(actual, expected))
        if self.pipe.view is not None:
            def view_matches():
                cols = ["conv_id", "n_turns", "n_chars", "doc"]
                got = self.view.read().toPandas()[cols]
                want = render_conversations(read_state(table)).select(*cols).toPandas()
                key = lambda d: sorted(map(tuple, d.itertuples(index=False)))  # noqa: E731
                if key(got) != key(want):
                    raise AssertionError(
                        f"view differs from re-render: {len(got)} vs {len(want)} docs")

            self.check("view", view_matches)

    def check(self, name: str, fn) -> None:
        self.attempted += 1
        try:
            fn()
            self.info[f"parity_{name}"] = "ok"
        except AssertionError as e:
            self.failed += 1
            self.info[f"parity_{name}"] = "MISMATCH"
            self.errors.append(f"parity {name}: {e}")

    def tamper_table(self) -> None:
        """Apply one change that is not in the feed (``--tamper``): the
        parity gate must report it."""
        from couch_to_mongo_spark.operators.merge import merge_batch

        row = self.snapshot.iloc[0]
        bad = self.spark.createDataFrame(
            [(self.next_seq + 1, "u", row["conv_id"], int(row["turn_idx"]), "999-tamper",
              "user", "tampered text", None, None)],
            "seq long, op string, conv_id string, turn_idx int, _rev string, role string, "
            "text string, tool string, ts timestamp",
        )
        merge_batch(self.pipe.table, bad, run_id="tamper", batch_id=0)

    def metrics(self, fresh: list[float]) -> dict[str, float]:
        applied = sum(len(f.df) for f in self.files if f.avail)
        return {
            "setup_s": self.info["setup_s"],
            "bootstrap_rows_per_s": len(self.snapshot) / statistics.median(self.info["bootstrap_s"][1:]),
            "catchup_events_per_s": applied / self.busy_s if self.busy_s else 0.0,
            "freshness_p50_s": pct(fresh, 50),
            "freshness_p90_s": pct(fresh, 90),
            "apply_p50_s": pct(self.apply_s, 50),
            "read_cycle_p50_s": pct(self.read_cycle_s, 50),
        }

    def execute(self) -> dict:
        """Set up, run the window, check parity; returns the result object."""
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        try:
            self.setup()
            self.window()
            fresh = self.freshness()
            live_files = len(self.pipe.table.snapshot().all_files())
            if self.trace:
                self.tracer.uninstall()
            t = time.perf_counter()
            self.parity()
            self.info["parity_s"] = time.perf_counter() - t
            e2e = self.metrics(fresh)
            self.info["samples"] = {
                "freshness": len(fresh), "apply": len(self.apply_s),
                "read_cycle": len(self.read_cycle_s),
            }
            self.spark.stop()
            self.spark = None
            if self.trace:
                from perfbench.trace import PER_LAYER, read_event_log, summarize

                groups = read_event_log(self.event_dir)
                layer = summarize(self.tracer, (self.t0, self.t1, self.t2),
                                  self.pipe.table.path, live_files, groups)
                units = dict(PER_LAYER)
                metrics = {k: {"value": layer[k], "unit": units[k]} for k, _ in PER_LAYER}
            else:
                metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
            empty = [k for k, _ in E2E if not e2e[k]]
            if empty:
                self.errors.append(f"no samples for {empty}")
            self.info["e2e"] = e2e
            return {
                "correct": not self.errors,
                "attempted": self.attempted,
                "failed": self.failed + len(empty),
                "metrics": metrics,
            }
        finally:
            if self.spark is not None:
                self.spark.stop()
            stop_jvm()
            shutil.rmtree(self.work, ignore_errors=True)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the Py4J gateway JVM and wait for it. ``spark.stop()`` leaves it
    running until this process exits; it exits on EOF on its stdin. (Closing
    the gateway first can block on the streaming callback threads.)"""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
