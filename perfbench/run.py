"""Linkage benchmark: one seeded workload, end-to-end or traced.

    python3 perfbench/run.py --workload chat_turns --seed 1 --seconds 10 --trace 0

Run from the repository root. The script generates (or reuses) the seeded
inputs under ``.perfbench/``, starts the program's own Spark session at
``local[<cpus>]`` and drives ``LinkagePipeline.run`` in a closed loop with one
client: each request loads the inputs through ``entity_linkings_spark.sources``,
runs the pipeline and materializes ``resolved_mentions``; the next request
starts when the previous one has finished. After the loop it checks the
outputs against the planted gold.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced requests in one session with the Spark event log on,
then drives the durable entry point ``plans.lifecycle.run_linkage`` (a
commit, then a resume) and the streaming one
``streaming.incremental.incremental_linkage`` on the same input, and reports
per-layer metrics (see perfbench/README.md). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
The line before it is the full report. The exit code is non-zero when a check
fails or the program cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
F1_GATE = 0.99
COVERAGE_LIMIT = 0.10  # root run self time over the traced request wall
# Columns the streaming sink shares with run()'s resolved_mentions (a
# micro-batch clusters per surface, so cluster ids are not compared).
STREAM_KEY = ("conv_id", "turn_idx", "start", "end", "mention", "mention_id", "entity_id", "score")

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s_p50": "s",
    "turns_per_s": "1/s",
    "pairs_scored_per_s": "1/s",
    "pairwise_f1": "ratio",
    "inkb_f1": "ratio",
}


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def code_digest() -> str:
    """Hash of the program's and the benchmark's sources: keys recorded
    output digests to the code that produced them."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "entity_linkings_spark", "**", "*.py"),
                                 recursive=True)
                       + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))):
        with open(path, "rb") as f:
            h.update(path[len(ROOT):].encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def materialize(df) -> str:
    """Write ``df`` to the noop sink and return an order-independent digest of
    its rows (row count plus two sums of row hashes), observed during that
    write: no extra job, and a final sort still runs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    cols = [F.col(c) for c in df.columns]
    (df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))).alias("h1"),
        F.sum(F.pmod(F.hash(*cols), F.lit(2_147_483_647))).alias("h2"),
    ).write.format("noop").mode("overwrite").save())
    m = obs.get
    return f"{m['rows']}:{m['h1']}:{m['h2']}"


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (the Python workers
    of the driver JVM outlive their parent briefly), so that ``end_children``
    can wait for every one of them."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_children(timeout: float = 30.0) -> None:
    """Stop the driver JVM and wait until every process started by this one
    has ended: the JVM exits when its standard input closes, its orphaned
    workers are adopted here, and whatever outlives ``timeout`` is killed."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in child_pids():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def child_pids() -> list[int]:
    me = str(os.getpid())
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            out.append(int(entry))
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, paths: dict, cpus: int):
        self.paths = paths
        self.cpus = cpus
        self.spark = None
        self.failures: list[str] = []
        self.digest: str | None = None  # of the first request's output
        self.attempted = 0
        self.failed = 0

    def fail(self, msg: str) -> None:
        """One attempted operation (request, commit, resume, stream) failed."""
        self.failed += 1
        self.failures.append(msg)

    # ---- session ------------------------------------------------------------
    def setup(self, trace: bool) -> dict:
        """Start the program's session from cold: launch the driver JVM through
        ``get_spark``, then run a generic warm-up job that runs no pipeline
        code."""
        from entity_linkings_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
        }
        if trace:
            self.event_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}")
            shutil.rmtree(self.event_dir, ignore_errors=True)
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        (self.spark.range(0, 400_000, 1, 2 * self.cpus)
         .selectExpr("id % 1009 AS k", "id").groupBy("k").count().collect())
        t2 = time.perf_counter()
        return {"setup_s": t2 - t0, "session.start_s": t1 - t0, "session.warmup_s": t2 - t1}

    # ---- one request --------------------------------------------------------
    def request(self, tracer=None):
        """load inputs -> LinkagePipeline.run -> materialize resolved_mentions.
        Returns (wall seconds, run() outputs, digest)."""
        import entity_linkings_spark.plans.pipeline as pipeline
        import entity_linkings_spark.sources.dictionary as dictionary
        import entity_linkings_spark.sources.transcripts as transcripts

        self.attempted += 1
        t0 = time.perf_counter()
        tr = transcripts.load_transcripts(self.spark, self.paths["transcripts"])
        dic = dictionary.load_dictionary(self.spark, self.paths["entity_dictionary"])
        out = pipeline.LinkagePipeline(dic).run(tr)
        if tracer is None:
            digest = materialize(out["resolved_mentions"])
        else:
            with tracer.span("joinback", "final_action"):
                digest = materialize(out["resolved_mentions"])
        wall = time.perf_counter() - t0
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            self.fail(f"request {self.attempted}: digest {digest} != {self.digest}")
        return wall, out, digest

    def guarded(self, tracer=None):
        try:
            return self.request(tracer)
        except Exception:  # a failed request is counted, and the loop goes on
            traceback.print_exc()
            self.fail(f"request {self.attempted}: raised")
            return None

    # ---- durable and streaming entry points (traced run only) -----------------
    def durable(self, out):
        """One ``run_linkage`` commit into a fresh store and a same-fingerprint
        rerun that resumes it, then one ``incremental_linkage`` drain of the
        same transcripts, one file per trigger. Both outputs must match the
        ``LinkagePipeline.run`` output of this input."""
        from entity_linkings_spark.plans.lifecycle import run_linkage
        from entity_linkings_spark.plans.pipeline import LinkagePipeline
        from entity_linkings_spark.sources.dictionary import load_dictionary
        from entity_linkings_spark.sources.transcripts import load_transcripts
        from entity_linkings_spark.streaming.incremental import (
            incremental_linkage, stream_transcripts,
        )
        from spans import LIFECYCLE_POINTS, STREAM_FACTORIES, Tracer
        from workloads import STREAM_FILES

        work = os.path.join(WORK, "durable", f"{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        store, sink, ckpt = (os.path.join(work, d) for d in ("store", "sink", "checkpoint"))
        fingerprint = os.path.basename(self.paths["dir"])
        tracer = Tracer()
        m: dict = {}
        tracer.install(LIFECYCLE_POINTS, STREAM_FACTORIES)
        try:
            digests = {}
            for name in ("commit", "resume"):
                self.attempted += 1
                try:
                    t0 = time.perf_counter()
                    with tracer.span("lifecycle", name):
                        res = run_linkage(
                            self.spark,
                            load_transcripts(self.spark, self.paths["transcripts"]),
                            load_dictionary(self.spark, self.paths["entity_dictionary"]),
                            store, fingerprint)
                        digests[name] = materialize(res["resolved_mentions"].df)
                    m[f"lifecycle.{name}_s"] = time.perf_counter() - t0
                except Exception:
                    traceback.print_exc()
                    self.fail(f"lifecycle {name}: raised")
                    return tracer, m
                if digests[name] != self.digest:
                    self.fail(f"lifecycle {name}: digest {digests[name]} != run() {self.digest}")
            m["lifecycle.stages_resumed"] = sum(
                1 for e in res["runner"].events if e["resumed"])
            if m["lifecycle.stages_resumed"] != len(res["runner"].events):
                self.fail(f"lifecycle resume: {m['lifecycle.stages_resumed']} of "
                          f"{len(res['runner'].events)} stages resumed")
            m["lifecycle.store_bytes"] = dir_bytes(store)
            m["lifecycle.bytes_per_input_byte"] = m["lifecycle.store_bytes"] / (
                os.path.getsize(self.paths["transcripts"])
                + os.path.getsize(self.paths["entity_dictionary"]))

            self.attempted += 1
            sc = self.spark.sparkContext
            try:
                persisted = set(sc._jsc.getPersistentRDDs().keySet())
                pipe = LinkagePipeline(
                    load_dictionary(self.spark, self.paths["entity_dictionary"]))
                t0 = time.perf_counter()
                query = incremental_linkage(
                    stream_transcripts(self.spark, self.paths["stream"], max_files=1),
                    pipe, sink, ckpt).start()
                query.awaitTermination()
                m["stream.drain_s"] = time.perf_counter() - t0
                # RDDs the drain persisted and left persisted
                m["stream.persisted_rdds_growth"] = len(
                    set(sc._jsc.getPersistentRDDs().keySet()) - persisted)
                sunk = materialize(self.spark.read.parquet(sink).select(*STREAM_KEY))
                expect = materialize(out["resolved_mentions"].select(*STREAM_KEY))
            except Exception:
                traceback.print_exc()
                self.fail("stream: raised")
                return tracer, m
            epochs = sum(1 for s in tracer.spans if s.name == "epoch")
            if epochs != STREAM_FILES:
                self.fail(f"stream: {epochs} epochs for {STREAM_FILES} files")
            if sunk != expect:
                self.fail(f"stream: sink digest {sunk} != run() {expect}")
            m["stream.sink_bytes"] = dir_bytes(sink)
        finally:
            tracer.uninstall()
            shutil.rmtree(work, ignore_errors=True)
        return tracer, m

    # ---- correctness ----------------------------------------------------------
    def evaluate(self, out) -> dict:
        from pyspark.sql import functions as F

        from entity_linkings_spark.functions.strings import mention_substring, norm_exact
        from entity_linkings_spark.operators.evaluate import (
            gold_surface_pairs, inkb_micro_f1, pairwise_f1,
        )
        from entity_linkings_spark.sources.dictionary import NIL_ID
        from entity_linkings_spark.sources.transcripts import load_transcripts

        tr = load_transcripts(self.spark, self.paths["transcripts"])
        gold = self.spark.read.parquet(self.paths["gold_mentions"])
        in_kb = (
            gold.join(tr.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
            .select(F.md5(norm_exact(mention_substring("text", "start", "end"))).alias("skey"),
                    F.col("in_kb").cast("int").alias("kb"))
            .groupBy("skey").agg(F.min("kb").alias("kb"))
        )
        labeled = (
            gold_surface_pairs(gold, tr)
            .join(in_kb.withColumnsRenamed({"skey": "skey_a", "kb": "kb_a"}), "skey_a")
            .join(in_kb.withColumnsRenamed({"skey": "skey_b", "kb": "kb_b"}), "skey_b")
            .withColumn("kb", (F.col("kb_a") == 1) & (F.col("kb_b") == 1))
        )
        clusters = out["clusters"]
        preds = out["resolved_mentions"].where(F.col("entity_id") != NIL_ID).select(
            "conv_id", "turn_idx", "start", "end", F.array("entity_id").alias("labels"))
        parts = {
            "kb": pairwise_f1(clusters, labeled.where("kb")),
            "nil": pairwise_f1(clusters, labeled.where("NOT kb")),
            "inkb": inkb_micro_f1(preds, gold.where("in_kb")),
            "surf": out["resolved"].agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("entity_id") == NIL_ID).cast("int")).alias("nil")),
            "scored": out["scored"].agg(F.count(F.lit(1)).alias("n")),
        }
        # every part is one row: one cross join evaluates all in one action
        row = None
        for name, df in parts.items():
            df = df.select([F.col(c).alias(f"{name}_{c}") for c in df.columns])
            row = df if row is None else row.crossJoin(df)
        r = row.first()
        return {
            "pairwise_f1": r["kb_f1"],
            "pairwise_f1_pairs": r["kb_n_pairs"],
            "nil_pairwise_f1": r["nil_f1"],
            "nil_precision": r["nil_precision"],
            "nil_recall": r["nil_recall"],
            "nil_pairwise_f1_pairs": r["nil_n_pairs"],
            "inkb_f1": r["inkb_f1"],
            "distinct_surfaces": r["surf_n"],
            "nil_surfaces": r["surf_nil"],
            "candidate_pairs": r["scored_n"],
        }

    # ---- per-layer numbers (traced run only) -----------------------------------
    def layer_counts(self, out) -> dict:
        from pyspark.sql import functions as F

        from entity_linkings_spark.operators.blocking import block_stats
        from entity_linkings_spark.plans.pipeline import LinkageConfig, LinkagePipeline
        from entity_linkings_spark.sources.dictionary import NIL_ID, load_dictionary

        cfg = LinkageConfig()
        turns = self.paths["sizes"]["turns"]
        mentions_rows = out["mentions"].count()
        surf = out["surfaces"].agg(
            F.count(F.lit(1)).alias("n"), F.count("prior_entity").alias("hits")).first()
        pipe = LinkagePipeline(load_dictionary(self.spark, self.paths["entity_dictionary"]))
        keys = pipe.surface_keys(out["surfaces"]).localCheckpoint()
        blocks = block_stats(keys).collect()
        pairs = out["pairs"].count()
        scored = out["scored"].agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("is_match").cast("int")).alias("m")).first()
        res = (out["surfaces"].select("skey", "prior_entity")
               .join(out["resolved"].select("skey", "entity_id"), "skey")
               .agg(F.sum(F.col("prior_entity").isNull().cast("int")).alias("need"),
                    F.sum((F.col("prior_entity").isNull() & (F.col("entity_id") != NIL_ID))
                          .cast("int")).alias("accepted"),
                    F.sum((F.col("entity_id") == NIL_ID).cast("int")).alias("nil"))).first()
        nil_keys = out["resolved"].where(F.col("entity_id") == NIL_ID).select("skey")
        nil_edges = (out["scored"].where(F.col("combined") >= cfg.match_threshold)
                     .join(nil_keys.withColumnRenamed("skey", "skey_a"), "skey_a")
                     .join(nil_keys.withColumnRenamed("skey", "skey_b"), "skey_b").count())
        clusters_out = out["clusters"].select("cluster_id").distinct().count()
        return {
            "mentions.rows_out": mentions_rows,
            "mentions.per_turn": mentions_rows / turns,
            "prior.surfaces_out": surf["n"],
            "prior.hit_ratio": surf["hits"] / max(surf["n"], 1),
            "blocking.keys_out": sum(r["block_size"] * r["n_blocks"] for r in blocks),
            "blocking.pairs_out": pairs,
            "blocking.pairs_per_surface": pairs / max(surf["n"], 1),
            "blocking.max_block": max((r["block_size"] for r in blocks), default=0),
            "blocking.capped_keys": sum(r["n_blocks"] for r in blocks
                                        if r["block_size"] > cfg.max_block_size),
            "scoring.pairs_scored": scored["n"],
            "scoring.match_ratio": (scored["m"] or 0) / max(scored["n"], 1),
            "resolve.accept_ratio": (res["accepted"] or 0) / max(res["need"] or 0, 1),
            "resolve.nil_ratio": (res["nil"] or 0) / max(surf["n"], 1),
            "clustering.nil_edges": nil_edges,
            "clustering.clusters_out": clusters_out,
        }


def span_metrics(tracer, jobs, group: str) -> dict:
    """Per-layer wall, self and job figures for one traced request."""
    from spans import TRACE_POINTS, attribute_jobs, layer_wall, self_time

    spans = tracer.spans
    root = next(s for s in spans if s.layer == "request")
    run = next(s for s in spans if s.name == "run")
    owner = attribute_jobs(jobs, spans)
    mine = [j for j in jobs if j.job_id in owner]
    m = {"trace.request_s": root.wall}
    for layer in dict.fromkeys(layer for _, _, layer in TRACE_POINTS):
        lj = [j for j in mine if owner[j.job_id].layer == layer]
        stages = [st for j in lj for st in j.stages]
        top = max(stages, key=lambda st: sum(st.task_ms), default=None)
        m[f"{layer}.jobs"] = len(lj)
        m[f"{layer}.tasks"] = sum(len(st.task_ms) for st in stages)
        m[f"{layer}.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stages)
        m[f"{layer}.shuffle_read_bytes"] = sum(st.shuffle_read_bytes for st in stages)
        m[f"{layer}.spill_bytes"] = sum(st.spill_bytes for st in stages)
        m[f"{layer}.task_skew"] = top.skew if top else 0.0
        if layer != "run":
            m[f"{layer}.wall_s"] = layer_wall(layer, spans)
    m["mentions.self_s"] = sum(self_time(s, spans) for s in spans if s.layer == "mentions")
    m["sources.token_sets_calls"] = sum(1 for s in spans if s.name == "dictionary_token_sets")
    m["run.self_s"] = self_time(run, spans)
    m["run.pin_s"] = sum(s.wall for s in spans if s.name == "pin")
    m["run.branches_s"] = sum(s.wall for s in spans if s.name == "_materialize_concurrently")
    m["run.unlabelled_jobs"] = sum(1 for j in mine if j.group != group)
    m["trace.root_self_share"] = m["run.self_s"] / root.wall
    m["trace.request_self_share"] = self_time(root, spans) / root.wall
    m["trace.jobs"] = len(mine)
    return m


def durable_metrics(tracer, jobs) -> dict:
    """Job and span figures of the lifecycle commit/resume and the stream."""
    from spans import attribute_jobs

    def root(span):
        while span.parent is not None:
            span = span.parent
        return span

    owner = attribute_jobs(jobs, tracer.spans)
    roots = [root(owner[j.job_id]).name for j in jobs if j.job_id in owner]
    epochs = [s.wall for s in tracer.spans if s.name == "epoch"]
    return {
        "lifecycle.jobs": roots.count("commit"),
        "lifecycle.resume_jobs": roots.count("resume"),
        "lifecycle.write_s": sum(s.wall for s in tracer.spans if s.name == "write"),
        "lifecycle.read_s": sum(s.wall for s in tracer.spans
                                if s.name == "read" and root(s).name == "resume"),
        "stream.epoch_s": statistics.median(epochs),
        "stream.jobs_per_epoch": roots.count("epoch") / len(epochs),
    }


def median_dict(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import entity_linkings_spark  # noqa: F401
    except ImportError as e:
        die(f"cannot import the program from {ROOT}: {e}")
    import workloads

    if args.workload not in workloads.WORKLOADS:
        die(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    paths = workloads.ensure_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    become_subreaper()
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep every temporary file of Python, the launcher and the driver JVM
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"

    import pandas
    import pyarrow
    import pyspark

    bench = Bench(paths, cpus)
    report: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": cpus, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
        "python": sys.version.split()[0], "sizes": dict(paths["sizes"]),
    }
    t_start = time.perf_counter()
    try:
        setup = bench.setup(trace=bool(args.trace))
        first = bench.guarded()
        if first is None:
            raise RuntimeError("the first request failed")
        first_s, out, _ = first
        walls, traced_walls, per_layer = [], [], []
        group = "perfbench-traced"
        sc = bench.spark.sparkContext
        deadline = time.perf_counter() + args.seconds
        while True:
            # In a traced run each traced request comes before its untraced
            # twin, so warm-up favours the untraced one and the overhead
            # estimate errs high.
            if args.trace:
                from spans import Tracer

                tracer = Tracer()
                sc.setJobGroup(group, "traced request")
                tracer.install()
                try:
                    with tracer.span("request", "request"):
                        r = bench.guarded(tracer)
                finally:
                    tracer.uninstall()
                if r is not None:
                    traced_walls.append(r[0])
                    per_layer.append(tracer)
                    out = r[1]
                sc.setJobGroup("perfbench-untraced", "untraced request")
            r = bench.guarded()
            if r is not None:
                walls.append(r[0])
                out = r[1]
            if time.perf_counter() >= deadline:
                break
        pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(pid)
        if not walls:
            raise RuntimeError("no warm request succeeded")
        if args.trace:
            durable_tracer, durable_m = bench.durable(out)
        # The same program and input must give the same output in every
        # invocation, traced or not.
        record = os.path.join(WORK, "digests",
                              f"{os.path.basename(paths['dir'])}-{code_digest()}.txt")
        if os.path.exists(record):
            with open(record) as f:
                prev = f.read()
            if prev != bench.digest:
                bench.fail(f"digest {bench.digest} != earlier invocation {prev}")
        else:
            os.makedirs(os.path.dirname(record), exist_ok=True)
            with open(record, "w") as f:
                f.write(bench.digest)
        t_eval = time.perf_counter()
        ev = bench.evaluate(out)
        report["eval_s"] = time.perf_counter() - t_eval
        run_s = statistics.median(walls)
        metrics = {
            "setup_s": setup["setup_s"],
            "first_run_s": first_s,
            "run_s_p50": run_s,
            "turns_per_s": paths["sizes"]["turns"] / run_s,
            "pairs_scored_per_s": ev["candidate_pairs"] / run_s,
            "pairwise_f1": ev["pairwise_f1"],
            "inkb_f1": ev["inkb_f1"],
        }
        report["sizes"].update({k: ev[k] for k in ("distinct_surfaces", "nil_surfaces",
                                                     "candidate_pairs")})
        report["nil_pairwise_f1"] = ev["nil_pairwise_f1"]
        report["peak_rss_mb"] = rss
        report["run_s_samples"] = len(walls)
        report["evaluation"] = ev
        if ev["pairwise_f1"] < F1_GATE:
            bench.failures.append(f"pairwise_f1 {ev['pairwise_f1']:.4f} < {F1_GATE}")

        per_layer_metrics = None
        if args.trace:
            counts = bench.layer_counts(out)
            bench.spark.stop()
            bench.spark = None
            from eventlog import read_event_log

            jobs = read_event_log(bench.event_dir)
            shutil.rmtree(bench.event_dir, ignore_errors=True)
            if not per_layer:
                raise RuntimeError("no traced request succeeded")
            layer = median_dict([span_metrics(t, jobs, group) for t in per_layer])
            layer.update(counts)
            layer.update({k: v for k, v in setup.items() if k.startswith("session.")})
            layer["session.peak_rss_mb"] = rss
            layer["joinback.rows_out"] = int(bench.digest.split(":")[0])
            t50 = statistics.median(traced_walls)
            layer["trace.overhead_s"] = t50 - run_s
            layer["trace.overhead_ratio"] = (t50 - run_s) / run_s
            if "stream.sink_bytes" in durable_m:  # both durable paths completed
                layer.update(durable_m)
                layer.update(durable_metrics(durable_tracer, jobs))
            per_layer_metrics = layer
            report["traced_samples"] = len(traced_walls)
            if layer["trace.root_self_share"] > COVERAGE_LIMIT:
                bench.failures.append(
                    f"run self time is {layer['trace.root_self_share']:.1%} of the traced "
                    f"request (limit {COVERAGE_LIMIT:.0%})")
    finally:
        try:
            if bench.spark is not None:
                bench.spark.stop()
        finally:
            end_children()

    report["total_s"] = time.perf_counter() - t_start
    failed = bench.failed
    correct = not bench.failures
    report["digest"] = bench.digest
    report["failed_ratio"] = failed / bench.attempted
    report["failures"] = bench.failures
    report["end_to_end"] = metrics
    if per_layer_metrics is not None:
        report["per_layer"] = per_layer_metrics
    shown = per_layer_metrics if args.trace else metrics
    units = END_TO_END if not args.trace else {}
    result = {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                    for k, v in shown.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0 if correct else 1


def layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith(("_ratio", "_share", "skew", "per_turn", "per_surface", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
