"""pandance_spark benchmark: one closed-loop client timing the public
operator calls of a workload on Spark ``local[4]``.

    python3 perfbench/run.py --workload paper_joins --seed 12345 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  One run:

1. starts a SparkSession and makes the workload's inputs three times
   (``setup_s`` = session start + median input set-up);
2. runs one cold pass (``cold_pass_s``: the first full-size pass, with
   codegen and JIT warm-up), then warm passes until ``--seconds`` have
   gone by, at least two (``pass_s`` = their median).  A pass runs each
   call of the workload once, each into a noop sink.  Before every call
   of a warm pass, untimed, it runs a fixed reference Spark job that
   uses no pandance_spark code (``_reference``);
3. reads ``peak_rss_mb``: the ``VmHWM`` of this process plus its JVM
   child.  The JVM heap is fixed at 1 GB (``-Xms`` = ``-Xmx``), so the
   figure is steady; heap pressure shows as GC time in the passes;
4. scales the three times (``setup_s``, ``cold_pass_s``, ``pass_s``)
   to a reference host speed: each is multiplied by ``REF_S`` /
   (median reference job time of the run).
   The benchmark runs on a few cores of a shared host whose speed
   drifts by tens of percent over minutes, and every call of a run
   slows or speeds up with it; the reference job, sampled all through
   the warm passes, measures that speed.  In three 10-run sets on a
   4-vCPU box, the scaling cut the run-to-run spread (IQR / median) of
   ``pass_s`` from 0.08-0.32 to 0.06-0.11 on paper_joins and from
   0.11-0.18 to 0.05-0.06 on dedup_pipelines.  It does less for
   ``cold_pass_s``, one pass early in the run, while the reference is
   sampled later (0.10-0.31 raw, 0.07-0.16 scaled).  The raw times are
   printed in the summary;
5. checks every call's output of every pass against independent
   references (``oracles.py``); any failure makes the exit code 1;
6. prints a summary with ``fail_frac`` (failed / attempted calls), then
   one JSON line with ``correct``, ``attempted``, ``failed`` and
   ``metrics``.

``--trace 1`` interleaves traced and untraced warm passes and reports
the per-layer metrics of ``layers.py`` for every call instead, plus the
tracing overhead (traced minus untraced median pass time).  Calls that
belong to other workloads report 0.  Spans go to
``.perfbench_work/spans/``.

Workloads, sizes and the reason for each are in ``workloads.py``; the
seed feeds the numpy generators of the inputs and nothing else.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import layers
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_WARM = 2
# median time of the reference job on a 4-vCPU box, warm; the unit the
# scaled times are expressed in
REF_S = 0.17
# untimed reference runs before the first sample: its own codegen and
# JIT warm-up
REF_WARMUP = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=12345, help="input seed (default: the paper's)")
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_session(run_dir: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[4]")
        .appName("pandance_spark_perfbench")
        # a fixed-size heap: its resizing made peak RSS vary ~10% per run
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", "-Xms1g")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _descendants(pid: int) -> list:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
                out += kids
                todo += kids
        except OSError:
            pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait
    until all of them have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        for pid in kids:
            while _alive(pid):
                if time.time() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def _reference(spark) -> float:
    """Wall time of a fixed job on Spark alone: a 1M-row grouped
    aggregate joined back to its keys, into a noop sink.  Like the
    workloads' calls it is mostly planning, scheduling and small
    shuffles, so it slows with the host the way they do; it reads no
    input and calls no pandance_spark code, so a change to the program
    does not move it."""
    from pyspark.sql import functions as F

    t = layers.now()
    keys = spark.range(0, 997).withColumnRenamed("id", "k")
    (
        spark.range(0, 1_000_000, 1, 4)
        .select(
            (F.col("id") % 997).alias("k"),
            F.xxhash64("id").bitwiseAND(0xFFFFFFF).alias("h"),
        )
        .groupBy("k")
        .agg(F.sum("h").alias("s"))
        .join(keys, "k")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return layers.now() - t


class Runner:
    """Runs passes of one workload and keeps what they observed."""

    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.workload = workload
        self.calls = workload.calls()
        self.tracer = tracer
        self.store = layers.StatusStore(spark)
        self.keep_rdds: set = set()
        self.observed = {c.key: [] for c in self.calls}  # per pass
        self.layer = {c.key: [] for c in self.calls}  # per traced pass
        self.refs: list = []  # reference job times, warm passes
        self.attempted = 0
        self.passes = 0
        self.errors: dict = {}

    def _persistent_rdds(self):
        return self.spark.sparkContext._jsc.getPersistentRDDs()

    def pin_inputs(self) -> None:
        self.keep_rdds = set(self._persistent_rdds().keySet())

    def _barrier(self) -> None:
        """Untimed, between calls: drop what the previous call persisted
        (local checkpoints, caches) but keep the cached inputs."""
        gc.collect()
        rdds = self._persistent_rdds()
        for rid in list(rdds.keySet()):
            if rid not in self.keep_rdds:
                rdds.get(rid).unpersist(False)

    def _sink(self, df, call):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(call.key)
        cols = [F.count(F.lit(1)).alias("rows")] + call.observe(df)
        df.observe(obs, *cols).write.format("noop").mode("overwrite").save()
        return obs.get

    def run_pass(self, label: str, traced: bool, reference: bool = True) -> float:
        sc = self.spark.sparkContext
        # every pass starts from a collected heap
        sc._jvm.System.gc()
        pass_span = self.tracer.begin(label, None, traced=traced)
        first_ref = len(self.refs)
        total = 0.0
        for call in self.calls:
            self._barrier()
            if reference:
                self.refs.append(_reference(self.spark))
            self.attempted += 1
            t0 = layers.now()
            if traced:
                first_job = self.store.last_job_id()
                sc.setJobGroup(f"{self.workload.name}:{call.key}", label)
            span = self.tracer.begin(call.key, pass_span)
            try:
                tb = layers.now()
                df = call.run()
                te = layers.now()
                got = self._sink(df, call)
                tx = layers.now()
            except Exception:
                self.errors[(call.key, self.passes)] = "raised"
                traceback.print_exc(file=sys.stderr)
                got = None
                te = tx = layers.now()
            self.tracer.end(span)
            self.observed[call.key].append(got)
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                m = self.store.layer_metrics(first_job, tx - tb)
                m.update(build_s=te - tb, exec_s=tx - te)
                self.layer[call.key].append(m)
            total += layers.now() - t0
        self.tracer.end(pass_span, pass_s=total, reference_s=self.refs[first_ref:])
        self.passes += 1
        return total


def _check(runner, workload) -> dict:
    """``{(call, pass): reason}`` for every call of every pass that
    raised, disagreed with its oracle, or changed between passes."""
    failures = dict(runner.errors)
    expected = workload.expected()
    for key, passes in runner.observed.items():
        want = expected.get(key, {})
        first = next((p for p in passes if p is not None), None)
        for i, got in enumerate(passes):
            if got is None:
                continue
            bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
            if got != first:
                bad["pass-to-pass"] = (got, first)
            if bad:
                failures[(key, i)] = f"got/want {bad}"
    # the same predicate through both join paths gives the same rows
    ineq = runner.observed.get("operators.ineq.ineq_join", [])
    theta = runner.observed.get("operators.theta.theta_join", [])
    for i, (a, b) in enumerate(zip(ineq, theta)):
        if a is not None and b is not None and a["digest"] != b["digest"]:
            failures[("operators.theta.theta_join", i)] = "digest differs from ineq_join"
    return failures


def main(argv=None) -> int:
    args = _parse(argv)
    # everything Spark, the JVMs and Python write goes under run_dir
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    try:
        import pandance_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import pandance_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(tmp, exist_ok=True)

    workload = workloads.WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "inputs"))
    tracer = layers.Tracer(workload.name)
    spark = None
    try:
        t0 = layers.now()
        spark = _start_session(run_dir)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = layers.now() - t0
        inputs_s = []
        for _ in range(SETUPS):
            workload.drop_inputs()
            t = layers.now()
            workload.make_inputs(spark)
            inputs_s.append(layers.now() - t)
        setup_raw = session_s + statistics.median(inputs_s)
        tracer.record("setup", t0, layers.now(), None, session_s=session_s, inputs_s=inputs_s)

        runner = Runner(spark, workload, tracer)
        runner.pin_inputs()
        cold = runner.run_pass("cold", traced=False, reference=False)
        for _ in range(REF_WARMUP):
            _reference(spark)
        warm = {False: [], True: []}
        start = time.time()
        i = 0
        while True:
            # untraced, traced, traced, untraced, ...: both kinds sit at
            # the same mean position in the run, so JIT warm-up over the
            # passes does not bias the overhead
            traced = bool(args.trace) and i % 4 in (1, 2)
            warm[traced].append(runner.run_pass(f"warm{i}", traced))
            i += 1
            enough = len(warm[False]) >= MIN_WARM and (
                not args.trace or len(warm[True]) >= MIN_WARM
            )
            if enough and time.time() - start >= args.seconds:
                break

        # read before the oracles and anchors add their own memory
        jvm = spark.sparkContext._gateway.proc
        peak_rss_mb = layers.vm_hwm_mb(os.getpid()) + layers.vm_hwm_mb(jvm.pid)

        failures = _check(runner, workload)
        anchors = {}
        for name, (count, want) in workload.anchors(spark).items():
            runner.attempted += 1
            try:
                anchors[name] = (count(), want)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                anchors[name] = (None, want)
            if anchors[name][0] != want:
                failures[(name, 0)] = f"got {anchors[name][0]}, want {want}"
    finally:
        if spark is not None:
            _stop(spark)

    pass_raw = statistics.median(warm[False])
    ref_s = statistics.median(runner.refs)
    scale = REF_S / ref_s
    failed = len(failures)
    attempted = runner.attempted
    if args.trace:
        metrics = {}
        for key in workloads.ALL_CALLS:
            rows = runner.layer.get(key, [])
            for m in layers.LAYER_METRICS:
                v = statistics.median(r[m] for r in rows) if rows else 0
                metrics[f"{key}.{m}"] = {"value": v, "unit": layers.LAYER_UNITS[m]}
        metrics["setup.session_s"] = {"value": session_s, "unit": "s"}
        metrics["setup.inputs_s"] = {"value": statistics.median(inputs_s), "unit": "s"}
        metrics["trace.overhead_s"] = {
            "value": statistics.median(warm[True]) - pass_raw,
            "unit": "s",
        }
    else:
        metrics = {
            "setup_s": {"value": setup_raw * scale, "unit": "s"},
            "cold_pass_s": {"value": cold * scale, "unit": "s"},
            "pass_s": {"value": pass_raw * scale, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    tracer.write(
        os.path.join(WORK, "spans", f"{workload.name}-seed{args.seed}-trace{args.trace}.json")
    )
    shutil.rmtree(run_dir, ignore_errors=True)

    for (key, i), reason in sorted(failures.items()):
        print(f"CHECK FAILED: {key} pass {i}: {reason}", file=sys.stderr)
    print(f"workload {workload.name}: {workload.why}")
    print(f"  seed {args.seed}; inputs {json.dumps(workload.sizes)}")
    print(
        f"  setup_s {setup_raw * scale:.4f} s | cold_pass_s {cold * scale:.4f} s | "
        f"pass_s {pass_raw * scale:.4f} s (median of {len(warm[False])}) | "
        f"peak_rss_mb {peak_rss_mb:.1f} MB | fail_frac {failed / attempted:.4f} "
        f"({failed}/{attempted})"
    )
    print(
        f"  raw wall times: cold pass {cold:.4f} s, warm pass {pass_raw:.4f} s, "
        f"setup {setup_raw:.4f} s; "
        f"reference job {ref_s:.4f} s (median of {len(runner.refs)}), "
        f"scale {scale:.4f}"
    )
    if args.trace:
        print(f"  tracing overhead {metrics['trace.overhead_s']['value']:+.4f} s per pass")
    if anchors:
        print(
            "  paper anchors: "
            + ", ".join(f"{k} {got} (want {want})" for k, (got, want) in anchors.items())
            + "; reference single-thread times (not bounds): "
            + ", ".join(f"{k} {v} s" for k, v in workloads.PAPER_TIMES_S.items())
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
