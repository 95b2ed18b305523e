"""Validator benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 12 --trace 0

A run starts a fresh Spark JVM, stages its seeded inputs, times one cold run
of the workload's operation and then warm runs until ``--seconds`` have
passed, checking every output against DuckDB. With
``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced pass over every
layer, and the spans are written under ``.perfbench/results/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import pickle
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>

# workload -> (the layer whose operation it times, conversations staged);
# the generator makes ~10.6 turns per conversation
WORKLOADS = {
    "batch_validate": ("engine", 100_000),
    "ingest_parse": ("documents", 20_000),
}
_INPUT = {"engine": "turns", "documents": "docs"}
# The package default (48g) exceeds most hosts. One GiB holds both workloads.
# The heap starts at its full size (-Xms), so peak RSS does not depend on when
# the collector chose to grow it.
DRIVER_MEMORY = "1g"
# untimed runs after the cold run: the JIT keeps compiling through them
WARMUP_RUNS = 2


def source_digest() -> str:
    """sha256 over the package sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "avro_conversions_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker and checksum files
    are not counted as files."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += not n.startswith((".", "_"))
    return size, files


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (a process
    the JVM started and left behind), so ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    me = os.getpid()
    found = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # not a process, or it has ended
            continue
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == me:
            found.append(int(name))
    return found


def reap_children(timeout: float) -> None:
    """Wait until every child has ended; kill those still running after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for pid in children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Oracle:
    """The DuckDB checks, answered by a child process (``perfbench/oracle.py``
    run as a module) so the oracle's memory stays out of this process's peak
    RSS. The child starts on the first call."""

    def __init__(self) -> None:
        self.proc: subprocess.Popen | None = None

    def __call__(self, fn, *args):
        if self.proc is None:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.oracle"],
                cwd=ROOT,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
            )
        pickle.dump((fn.__name__, args), self.proc.stdin)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"oracle {fn.__name__} raised:\n{value}")
        return value

    def stop(self) -> None:
        """Close the child's input (it exits at end of input) and wait."""
        if self.proc is None:
            return
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class Session:
    """One Spark JVM, started and stopped by this run."""

    def __init__(self, nproc: int, tmp: str) -> None:
        from avro_conversions_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            },
        )
        self.proc = self.spark.sparkContext._gateway.proc  # noqa: SLF001 — the JVM process

    def jvm_peak_rss_kb(self) -> int:
        with open(f"/proc/{self.proc.pid}/status") as fh:
            return int(next(ln for ln in fh if ln.startswith("VmHWM:")).split()[1])

    def stop(self) -> None:
        """Stop the context, close the gateway, and wait for the JVM to exit."""
        gateway = self.spark.sparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        gateway.shutdown()
        self.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class Bench:
    def __init__(self, args, nproc: int, tmp: str) -> None:
        from perfbench.spans import Tracer

        self.args = args
        self.nproc = nproc
        self.tmp = tmp
        self.layer, self.n_convs = WORKLOADS[args.workload]
        # the traced pass calls every layer, so it reads both inputs
        self.needs = ("turns", "docs") if args.trace else (_INPUT[self.layer],)
        # warm and cold runs are never traced; the traced pass has its own
        self.quiet = Tracer(False)
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.runs = 0
        self.fingerprints: set[int] = set()

    # ---------------------------------------------------------- accounting

    def attempt(self, name: str, fn, check):
        """Run ``fn`` (timed), then ``check`` its output (untimed). An
        exception or a failed check counts as a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
            problems = check(out)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc()
            problems, out, dt = ["raised"], None, None
        if problems:
            self.failed += 1
            print(f"perfbench: {name} failed: {problems}", file=sys.stderr)
            return out, None
        return out, dt

    # ------------------------------------------------------------- inputs

    def stage(self, spark) -> None:
        """Stage this run's seeded inputs and compute their expected outputs.
        Untimed: the fixture's cost is ``transcripts.fixture_s``."""
        from perfbench import fixture, oracle

        t0 = time.perf_counter()
        seed, n_convs = self.args.seed, self.n_convs
        fixture.stage_turns(spark, seed, n_convs, self.path("turns"))
        if "docs" in self.needs:
            fixture.stage_docs(spark, seed, self.path("turns"), self.path("docs"))
        self.fixture_s = time.perf_counter() - t0
        if "turns" in self.needs:
            self.rows, self.expected = self.duck(oracle.transcript_counts, self.path("turns"))
        if "docs" in self.needs:
            self.doc_expected = self.duck(oracle.document_counts, self.path("docs"))
            self.rows = self.doc_expected["docs"]

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, "fixture", name)

    # ------------------------------------------------------------ operations

    def operation(self, spark, inputs: dict):
        """(timed call, check) for this workload's operation."""
        from perfbench import layers, oracle

        if self.layer == "engine":
            engine = layers.suite(spark)

            def call():
                self.runs += 1
                return layers.validate(engine, inputs["turns"], self.quiet, f"run-{self.runs}")

            def check(out):
                return oracle.check_verdicts(out["verdicts"], self.rows, self.expected)

        else:

            def call():
                return layers.parse(inputs["docs"], self.quiet)

            def check(out):
                problems = oracle.check_documents(out, self.doc_expected)
                self.fingerprints.add(out["fingerprint"])
                if len(self.fingerprints) > 1:
                    problems.append(f"parsed fingerprints differ: {self.fingerprints}")
                return problems

        return call, check

    def verify_parse(self, inputs: dict) -> None:
        """Per-turn equality of parsed fields with the source row."""
        from perfbench import layers, oracle

        out = os.path.join(self.tmp, "parsed")

        def call():
            layers.parse_with_source(inputs["docs"]).write.parquet(out)
            return out

        self.attempt(
            "per-turn parse check",
            call,
            lambda p: self.duck(oracle.check_parsed, p, self.doc_expected, layers.ENUM_DEFAULT),
        )

    # --------------------------------------------------------------- run

    def run(self) -> tuple[dict, dict]:
        args = self.args
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "git_sha": git_sha(),
            "source_sha256": source_digest(),
            "nproc": self.nproc,
            "loadavg_before": os.getloadavg(),
            "python": platform.python_version(),
            "driver_memory": DRIVER_MEMORY,
        }
        self.duck = Oracle()
        try:
            return self._run(record)
        finally:
            self.duck.stop()

    def _run(self, record: dict) -> tuple[dict, dict]:
        args = self.args
        layer = self.layer
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            session = Session(self.nproc, self.tmp)
        start_s = time.perf_counter() - t0
        spark = session.spark
        try:
            self.stage(spark)
            # a full collection after staging, so every run's timing starts
            # from the same heap state
            spark._jvm.System.gc()  # noqa: SLF001
            t0 = time.perf_counter()
            inputs = {name: spark.read.parquet(self.path(name)) for name in self.needs}
            setup_s = start_s + time.perf_counter() - t0

            import pyspark

            record.update(
                n_convs=self.n_convs,
                rows=self.rows,
                fixture_s=self.fixture_s,
                pyspark=pyspark.__version__,
                java=spark._jvm.System.getProperty("java.version"),  # noqa: SLF001
            )
            call, check = self.operation(spark, inputs)
            _, cold_s = self.attempt("cold run", call, check)
            for _ in range(WARMUP_RUNS):
                self.attempt("warm-up run", call, check)
            warm: list[float] = []
            end = time.perf_counter() + args.seconds
            while True:
                _, dt = self.attempt("warm run", call, check)
                if dt is not None:
                    warm.append(dt)
                if time.perf_counter() >= end:
                    break
            if layer == "documents":
                self.verify_parse(inputs)
            layer_metrics = self.sweep(spark, inputs, warm) if args.trace else None
            jvm_kb = session.jvm_peak_rss_kb()
            py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        finally:
            session.stop()

        warm_p50 = statistics.median(warm) if warm else None
        record.update(
            setup_s=setup_s,
            cold_run_s=cold_s,
            warm_run_s=warm,
            warm_samples=len(warm),
            warm_p50_s=warm_p50,
            jvm_peak_rss_mb=jvm_kb / 1024,
            python_peak_rss_mb=py_kb / 1024,
            loadavg_after=os.getloadavg(),
        )
        if layer_metrics is not None:
            metrics = layer_metrics
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (self.rows / warm_p50 if warm_p50 else 0.0, "1/s"),
                "cold_run_s": (cold_s or 0.0, "s"),
                "peak_rss_mb": ((jvm_kb + py_kb) / 1024, "MB"),
                "ok_rate": ((self.attempted - self.failed) / self.attempted, "ratio"),
            }
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return record, result

    # ------------------------------------------------------------ traced pass

    def sweep(self, spark, inputs: dict, warm: list[float]) -> dict:
        """One traced call into every layer, with its checks; returns the
        per-layer metrics."""
        from perfbench import layers, oracle
        from perfbench.spans import SparkCounters, dur

        tr = self.tracer
        tr.counters = SparkCounters(spark)
        turns, docs = inputs["turns"], inputs["docs"]

        plans = layers.resolve_schema(tr)
        self.attempt(
            "traced documents",
            lambda: layers.parse(docs, tr),
            lambda out: oracle.check_documents(out, self.doc_expected),
        )
        fam, _ = self.attempt(
            "traced constraint families",
            lambda: layers.families(spark, turns, tr),
            lambda out: oracle.check_families(out, self.expected),
        )
        eng, _ = self.attempt(
            "traced engine",
            lambda: layers.validate(layers.suite(spark), turns, tr, "traced"),
            lambda out: oracle.check_verdicts(out["verdicts"], self.rows, self.expected),
        )
        out = os.path.join(self.tmp, "resume-traced")
        self.attempt(
            "traced ledger",
            lambda: layers.resume(layers.suite(spark), turns, out, tr, "traced"),
            lambda _: self.duck(oracle.check_resume, out, self.rows, self.expected, layers.N_BUCKETS),
        )
        ledger_bytes, ledger_files = tree_bytes(out)

        one = {s["name"]: s for s in tr.spans}  # the last span of each name
        doc = self.doc_expected
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (dur(one["session.start"]), "s"),
            "transcripts.fixture_s": (self.fixture_s, "s"),
            "transcripts.rows": (self.rows, "count"),
            "schema.resolve_s": (dur(one["schema.resolve"]), "s"),
            "schema.column_plans": (len(plans), "count"),
            "documents.build_s": (dur(one["documents.build"]), "s"),
            "documents.exec_s": (dur(one["documents.exec"]), "s"),
            "documents.corrupt_docs": (doc["corrupt"], "count"),
            "documents.violations": (doc["violations"], "count"),
            "documents.ok_ratio": (doc["ok"] / doc["docs"], "ratio"),
        }
        for fam_name in ("row", "unique", "ref", "sequence"):
            m[f"constraints.{fam_name}_s"] = (dur(one[f"constraints.{fam_name}"]), "s")
            m[f"constraints.{fam_name}.violations"] = ((fam or {}).get(fam_name, 0), "count")
        for fam_name in ("unique", "sequence"):
            sw = tr.spark_totals(one[f"constraints.{fam_name}"])["shuffle_write_bytes"]
            m[f"constraints.{fam_name}.shuffle_write_bytes"] = (sw, "bytes")

        e = tr.spark_totals(one["engine"])
        exec_s = dur(one["engine.verdicts"]) + dur(one["engine.violations"])
        family_s = sum(dur(one[f"constraints.{f}"]) for f in ("row", "unique", "ref", "sequence"))
        m.update(
            {
                "engine.build_s": (dur(one["engine.build"]), "s"),
                "engine.verdicts_s": (dur(one["engine.verdicts"]), "s"),
                "engine.violations_s": (dur(one["engine.violations"]), "s"),
                "engine.jobs": (e["jobs"], "count"),
                "engine.stages": (e["stages"], "count"),
                "engine.tasks": (e["tasks"], "count"),
                "engine.task_busy_s": (e["task_busy_s"], "s"),
                "engine.shuffle_write_bytes": (e["shuffle_write_bytes"], "bytes"),
                "engine.shuffle_read_bytes": (e["shuffle_read_bytes"], "bytes"),
                "engine.spill_bytes": (e["spill_bytes"], "bytes"),
                "engine.violation_rows": ((eng or {}).get("violation_rows", 0), "count"),
                "engine.family_sum_ratio": (family_s / exec_s, "ratio"),
            }
        )

        run = one["ledger.run"]
        inner = tr.children(run)
        runs = [s for s in inner if s["name"] == "engine.run"]
        commits = [s for s in inner if s["name"] == "ledger.commit"]
        completed = [s for s in inner if s["name"] == "ledger.completed"]
        # staging happens inside run() before the first bucket's engine.run;
        # the only other call in that interval is the ledger's completed()
        before = runs[0]["start"] - run["start"]
        before -= sum(dur(c) for c in completed if c["end"] <= runs[0]["start"])
        buckets = list(zip(runs, commits))
        m.update(
            {
                "ledger.stage_s": (before, "s"),
                "ledger.bucket_s": (statistics.median(c["end"] - r["start"] for r, c in buckets), "s"),
                "ledger.engine_build_s": (sum(dur(r) for r in runs), "s"),
                "ledger.commit_s": (sum(dur(c) for c in commits), "s"),
                "ledger.completed_s": (sum(dur(c) for c in completed), "s"),
                "ledger.jobs_per_bucket": (
                    statistics.median(c["job_to"] - r["job_from"] for r, c in buckets),
                    "count",
                ),
                "ledger.bytes_written": (ledger_bytes, "bytes"),
                "ledger.files_written": (ledger_files, "count"),
                "ledger.resume_noop_s": (dur(one["ledger.resume_noop"]), "s"),
            }
        )
        overhead = dur(one[self.layer]) - statistics.median(warm) if warm else 0.0
        m["trace.overhead_s"] = (overhead, "s")

        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        tr.write(os.path.join(results, f"spans-{self.args.workload}-s{self.args.seed}-{stamp}.jsonl"))
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Children (the JVM, the DuckDB worker) inherit fd 1: point it at stderr,
    # so nothing they print can land in the result line.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    # everything a run writes stays inside the checkout: temp files,
    # Spark's local dirs, the JVM's tmpdir
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
    )
    sys.path.insert(0, ROOT)
    become_subreaper()
    try:
        record, result = Bench(args, nproc, tmp).run()
    finally:
        # the JVM and the oracle have been stopped; wait for anything they left
        reap_children(30)
        shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({**record, "result": result}) + "\n")
    print(json.dumps(record), file=out)
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
