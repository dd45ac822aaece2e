"""The two workloads, their output checks, and the traced run.

Untraced runs (``--trace 0``) give the end-to-end metrics.  Each run:

1. set-up: start a Spark session (which launches the JVM) twice over,
   write this seed's inputs and, for ``kg_stream``, warm up;
2. one timed job on fresh state;
3. re-invocation against the finished state (resume: for ``kg_batch``
   every stage is skipped; ``kg_stream`` restarts from its checkpoint when
   one more file has arrived, and commits it);
4. output checks, which count toward ``failed``.

The traced run (``--trace 1``) calls the layers one by one in the order
of ``KGPipeline.run_graphs`` and ``KGPipeline.run_learned`` (with
``kg_tables`` after the extraction stages, as ``kg_batch`` runs it) and
streams the same corpus through ``stream_kg_edges``, so every per-layer
metric exists on both workloads.  The workload's own part runs first,
where the untraced run times its job: ``trace.wall_s`` minus the untraced
``wall_s`` is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time

import spec
from host import HostSampler, cpu_canary, descendants, loadavg, wait_gone
from oracle import rejoin_mismatches, triples_support
from tracing import Tracer, layer_task_metrics

from pyspark.sql import functions as F

from usc_ds_relationextraction_spark.functions.hashing import h64, h64_py
from usc_ds_relationextraction_spark.plans import evaluation as ev
from usc_ds_relationextraction_spark.plans import inference as inf
from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
from usc_ds_relationextraction_spark.plans.training import CoTypeRMTrainer
from usc_ds_relationextraction_spark.session import get_spark
from usc_ds_relationextraction_spark.sources import synthetic as syn
from usc_ds_relationextraction_spark.sources.catalog import \
    read_current_version
from usc_ds_relationextraction_spark.streaming import ingest

TURN_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")

# session starts in one untraced set-up; setup_s takes their median.  Each
# launches a JVM (5-6 s on 4 vCPUs): a third would push a full proof of the
# benchmark (see spec.py) past the hour it has to fit in.
SESSION_STARTS = 2


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten of ``n`` samples beyond
    it, or None when no such percentile lies above the median (fewer than
    20 samples)."""
    p = int(100 * (1 - 10 / n)) if n > 0 else 0
    return p if p > 50 else None


def percentile(values: list[float], p: float) -> float:
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of the parquet data files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def stage_rows(wh_root: str) -> dict[str, dict]:
    """Last ``_metrics.jsonl`` record per stage of a warehouse."""
    out: dict[str, dict] = {}
    path = os.path.join(wh_root, "_metrics.jsonl")
    with open(path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                out[rec["stage"]] = rec
    return out


class VersionWatcher:
    """Polls an ``incremental_agg_sink`` target and records the size of
    each committed version directory (``v<batch>/`` with ``_SUCCESS``)."""

    def __init__(self, target: str, interval: float = 0.05):
        self.target = target
        self.interval = interval
        self.sizes: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        if not os.path.isdir(self.target):
            return
        for d in os.listdir(self.target):
            p = os.path.join(self.target, d)
            if d.startswith("v") and d[1:].isdigit() and \
                    os.path.exists(os.path.join(p, "_SUCCESS")):
                try:
                    self.sizes[d] = max(self.sizes.get(d, 0),
                                        dir_bytes_files(p)[0])
                except OSError:  # garbage-collected while listing
                    pass

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._poll()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._poll()


class Run:
    """One benchmark run: session, inputs, counters, host stamp."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, smoke: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.cfg = spec.WORKLOADS[workload]
        self.n_convs = self.cfg["smoke_convs" if smoke else "n_convs"]
        self.out_dir = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.out_dir, "work")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-" \
            f"{int(time.time())}"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, bool] = {}
        self.metrics: dict[str, float] = {}
        self.extra: dict = {}
        self.spark = None
        self.sampler = HostSampler()

    # -------------------------------------------------------- accounting
    def op(self, name: str, fn):
        """One attempted operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted, then re-raised to end the run
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".strip())

    # ------------------------------------------------------------ session
    def start_session(self, event_log: bool) -> float:
        """Start a Spark session, which launches a JVM; returns its
        seconds."""
        n = spec.shuffle_partitions()
        conf = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "sql-wh"),
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{n}]", shuffle_partitions=n,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self, seen: list[int] = ()) -> list[int]:
        """Stop Spark and its JVM and wait until every process in its tree,
        and every pid in ``seen``, has exited.  Returns the pids that had
        to be killed."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        pids = sorted(set(seen) | set(descendants(gw.proc.pid)))
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        return wait_gone(pids)

    def stop(self) -> None:
        if self.spark is None:
            return
        self.sampler.stop()
        self.extra.setdefault("killed_pids", []).extend(
            self.stop_session(self.sampler.pids))

    # ------------------------------------------------------------- inputs
    def write_inputs(self) -> dict:
        """Write this seed's transcripts as parquet.  Stream input is the
        same turns split by conversation into one file per micro-batch;
        ``kg_stream`` reads its turns from those files only, and holds one
        more file back in ``next`` for the resume."""
        spark = self.spark
        d = os.path.join(self.work, "input")
        turns = syn.transcripts(spark, self.n_convs, self.seed)
        out = {}
        if self.workload == "kg_batch":
            out["turns"] = os.path.join(d, "turns")
            turns.write.parquet(out["turns"])
            turns = spark.read.parquet(out["turns"])
        n_files = self.stream_files()
        if self.workload == "kg_stream":
            n_files += 1  # held back: it arrives for the resume
        if n_files:
            out["stream"] = os.path.join(d, "stream")
            t = turns.withColumn("_f", F.pmod(
                F.substring("conv_id", 2, 9).cast("int"), F.lit(n_files)))
            keyed = t.rdd.map(lambda r: (r["_f"], r)).partitionBy(
                n_files, lambda k: k).values()
            spark.createDataFrame(keyed, t.schema).drop("_f") \
                .write.parquet(out["stream"])
        if self.workload == "kg_stream":
            out["next"] = os.path.join(d, "next")
            os.makedirs(out["next"])
            last = sorted(f for f in os.listdir(out["stream"])
                          if f.endswith(".parquet"))[-1]
            shutil.move(os.path.join(out["stream"], last), out["next"])
            out["turns"] = out["stream"]
        return out

    def warm_up(self) -> None:
        """``kg_stream`` only: stream one input file into throwaway state.

        A long-running stream pays its first micro-batch's start-up (Python
        workers, plan compilation) once, not per commit; without this
        warm-up that start-up made the run-to-run spread of wall_s 15%
        instead of 2% on 4 vCPUs.  ``kg_batch`` gets none: its user
        submits the job to a fresh JVM every time, and a warm-up job would
        cost 30 s of the run budget."""
        if self.workload != "kg_stream":
            return
        w = self.work
        src = os.path.join(w, "warmup-src")
        os.makedirs(src)
        first = sorted(f for f in os.listdir(self.inputs["stream"])
                       if f.endswith(".parquet"))[0]
        shutil.copy(os.path.join(self.inputs["stream"], first), src)
        ingest.stream_kg_edges(self.spark, src,
                               os.path.join(w, "warmup-ck"),
                               os.path.join(w, "warmup-edges")) \
            .awaitTermination()

    def stream_files(self) -> int:
        if self.workload == "kg_stream":
            return self.cfg["smoke_files" if self.smoke else "n_files"]
        return (2 if self.smoke else 4) if self.trace else 0

    def setup(self) -> None:
        """Session start, input preparation and warm-up.

        Untraced runs start the session ``SESSION_STARTS`` times, each in
        a new JVM; all but the last are stopped at once, and the last one
        runs the workload.  ``setup_s`` is the median session start plus
        the input preparation and the warm-up, which run once: after the
        first preparation the JVM is warm, and a warm preparation is not
        what a set-up costs.  On 4 vCPUs one launch could take 20% longer
        than the next in the same run."""
        t0 = time.perf_counter()
        # the traced run reports no setup_s, and its time is the scarcest
        n = 1 if self.trace else SESSION_STARTS
        starts = []
        for k in range(n):
            if k:
                self.extra.setdefault("killed_pids", []).extend(
                    self.stop_session())
            starts.append(self.start_session(event_log=self.trace))
        from pyspark import SparkContext
        self.sampler.root_pid = SparkContext._gateway.proc.pid
        self.sampler.start()
        t1 = time.perf_counter()
        self.inputs = self.write_inputs()
        spark = self.spark
        self.aliases = syn.kb_aliases(spark)
        self.facts = syn.kb_facts(spark)
        self.brown = {r.word: r.cluster
                      for r in syn.brown_clusters(spark).collect()}
        t2 = time.perf_counter()
        self.warm_up()
        t3 = time.perf_counter()
        self.metrics["setup_s"] = statistics.median(starts) + (t3 - t1)
        self.extra.update({
            "session_start_s": statistics.median(starts),
            "session_starts_s": starts, "setup_prep_s": t2 - t1,
            "setup_warm_up_s": t3 - t2, "setup_wall_s": t3 - t0})
        self.turn_rows = [(r.conv_id, r.turn_idx, r.text) for r in
                          spark.read.parquet(self.inputs["turns"])
                          .select("conv_id", "turn_idx", "text").collect()]
        self.extra["n_turns"] = len(self.turn_rows)

    # --------------------------------------------------------- batch job
    def batch_job(self, wh: str) -> KGPipeline:
        """``kg_batch``'s job: extraction, KG tables, features and graphs
        on the warehouse ``wh``."""
        turns = self.spark.read.parquet(self.inputs["turns"])
        pipe = KGPipeline(self.spark, wh)
        self.op("run", lambda: pipe.run(turns, self.aliases, self.facts))
        self.op("kg_tables", lambda: pipe.kg_tables(self.aliases, self.facts))
        self.op("run_graphs", lambda: pipe.run_graphs(
            turns, self.aliases, self.facts, self.brown))
        return pipe

    def check_batch(self, wh: str) -> None:
        spark = self.spark
        pipe_wh = KGPipeline(spark, wh).wh
        got = {(r.subj, r.pred, r.obj): r.n for r in
               pipe_wh.read("triples_ds").groupBy("subj", "pred", "obj")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        want = dict(triples_support(t for _, _, t in self.turn_rows))
        self.check("triples_ds_support_equals_oracle",
                   got == want and len(want) > 0,
                   f"({len(got)} vs {len(want)} triples)")
        sents = [(r.conv_id, r.turn_idx, r.sent_idx, r.sentence) for r in
                 pipe_wh.read("sentences").select(
                     "conv_id", "turn_idx", "sent_idx", "sentence").collect()]
        turns = {(c, t): x for c, t, x in self.turn_rows}
        bad = rejoin_mismatches(turns, sents)
        self.check("sentences_rejoin_to_turn_text", bad == 0,
                   f"({bad} of {len(turns)} turns differ)")

    # -------------------------------------------------------- stream job
    def stream_job(self, ck: str, target: str) -> list[dict]:
        """Folds every input file into the edge table at ``target``, one
        micro-batch per file; returns the query's progress reports."""
        def go():
            q = ingest.stream_kg_edges(self.spark, self.inputs["stream"],
                                       ck, target)
            q.awaitTermination()
            return [json.loads(p.json) for p in q.recentProgress]
        progress = self.op("stream_kg_edges", go)
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        # each micro-batch is one attempted operation; a failed one ends
        # the query with an exception, counted by op() above
        self.attempted += len(batches)
        return batches

    def check_stream(self, target: str) -> None:
        """The edge table equals a one-shot batch aggregation of the
        evidence in every file streamed so far, and the oracle's support
        counts over those files' turns."""
        spark = self.spark
        got = {(r.subj, r.pred, r.obj): r.n_support
               for r in read_current_version(spark, target).collect()}
        src = spark.read.schema(TURN_SCHEMA).parquet(self.inputs["stream"])
        batch = ingest.turn_local_triples_join(
            src, self.aliases, self.facts).groupBy("subj", "pred", "obj") \
            .agg(F.count(F.lit(1)).alias("n"))
        want = {(r.subj, r.pred, r.obj): r.n for r in batch.collect()}
        self.check("stream_edges_equal_batch_aggregation",
                   got == want and len(want) > 0,
                   f"({len(got)} vs {len(want)} edges)")
        oracle = dict(triples_support(
            r.text for r in src.select("text").collect()))
        self.check("stream_edges_equal_oracle", got == oracle,
                   f"({len(got)} vs {len(oracle)} edges)")

    # ------------------------------------------------------- measurement
    def measure(self) -> None:
        """One timed job on fresh state.  At these sizes a job takes
        longer than ``--seconds`` (``spec.RUN_SECONDS``), so one job fills
        the measured time; a run shorter than ``--seconds`` is recorded as
        ``short_of_seconds``."""
        t0 = time.perf_counter()
        if self.workload == "kg_batch":
            last = os.path.join(self.work, "wh")
            self.batch_job(last)
            wall = time.perf_counter() - t0
            emitted = stage_rows(last)["triples_ds"]["rows"]
        else:
            last = (os.path.join(self.work, "ck"),
                    os.path.join(self.work, "edges"))
            batches = self.stream_job(*last)
            wall = time.perf_counter() - t0
            emitted = read_current_version(self.spark, last[1]) \
                .agg(F.sum("n_support")).first()[0]
            commits = [b["durationMs"]["triggerExecution"] / 1000.0
                       for b in batches]
            self.metrics["commit_p50_s"] = statistics.median(commits)
            p = tail_percentile(len(commits))
            if p is not None:
                self.metrics["commit_tail_s"] = percentile(commits, p)
            self.extra["commit_tail_percentile"] = p
            self.extra["commit_samples_s"] = commits
        self.metrics["wall_s"] = wall
        self.metrics["turns_per_s"] = self.extra["n_turns"] / wall
        self.metrics["triples_per_s"] = emitted / wall
        self.extra["triples_emitted"] = emitted
        self.extra["short_of_seconds"] = wall < self.seconds

        self.phase("jobs")
        t0 = time.perf_counter()
        if self.workload == "kg_batch":
            self.batch_job(last)
        else:
            # the held-back file arrives and the query restarts from its
            # checkpoint: resume is restart-to-commit of that one file
            nxt = self.inputs["next"]
            for f in os.listdir(nxt):
                shutil.move(os.path.join(nxt, f), self.inputs["stream"])
            resumed = self.stream_job(*last)
        self.metrics["resume_s"] = time.perf_counter() - t0
        self.phase("resume")

        if self.workload == "kg_batch":
            with open(os.path.join(last, "_metrics.jsonl")) as fh:
                writes = sum(1 for line in fh if line.strip())
            self.check("resume_wrote_nothing",
                       writes == len(stage_rows(last)),
                       "(a stage was rebuilt)")
            self.check_batch(last)
        else:
            n_commits = len([f for f in os.listdir(
                os.path.join(last[0], "commits")) if f.isdigit()])
            self.check("resume_committed_the_new_file",
                       len(resumed) == 1
                       and n_commits == self.stream_files() + 1,
                       f"({len(resumed)} micro-batches on resume, "
                       f"{n_commits} commits)")
            self.check_stream(last[1])

    # -------------------------------------------------------- traced run
    def traced(self) -> None:
        spark = self.spark
        tracer = Tracer(spark, self.run_id)
        wh_t = os.path.join(self.work, "wh-traced")
        ck_t = os.path.join(self.work, "ck-traced")
        edges_t = os.path.join(self.work, "edges-traced")
        turns = spark.read.parquet(self.inputs["turns"])
        pipe = KGPipeline(spark, wh_t)
        al, fa, brown = self.aliases, self.facts, self.brown
        # the workload's own part goes first, where the untraced run times
        # its job, so trace.wall_s compares with that run's wall_s
        with tracer.span("trace"):
            if self.workload == "kg_stream":
                stream = self.traced_stream(tracer, ck_t, edges_t)
            rm = self.traced_batch_dag(tracer, pipe, turns)
            with tracer.span("learned"):
                learned = self.traced_learned(tracer, pipe, rm)
            with tracer.span("catalog.resume"):
                self.op("resume", lambda: pipe.run_graphs(
                    turns, al, fa, brown))
                self.op("resume_kg_tables", lambda: pipe.kg_tables(al, fa))
            if self.workload == "kg_batch":
                stream = self.traced_stream(tracer, ck_t, edges_t)
        if self.workload == "kg_batch":
            self.check_batch(wh_t)
            self.check_learned(wh_t, turns, learned)
        else:
            self.check_stream(edges_t)
        rows = stage_rows(wh_t)
        em = rows["entity_mentions"]
        rm_tab = pipe.wh.read("rm_pairs")
        n_pairs = rm_tab.count()
        n_labeled = rm_tab.where(
            F.col("labels") != F.array(F.lit("None"))).count()
        delta_rows = self.delta_rows(ck_t)
        wh_bytes, wh_files = dir_bytes_files(wh_t)
        batches, sizes = stream
        commit = [b["durationMs"]["triggerExecution"] / 1000.0
                  for b in batches]
        m = self.metrics
        m["session.start_s"] = self.extra["session_start_s"]
        for name in ("mentions.sentences", "mentions.candidates",
                     "ds_label.entity_mentions", "pairs.rm_pairs",
                     "kg_materialize.kg_tables", "features.rm_rows",
                     "features.em_rows", "graphs.rm", "graphs.em",
                     "catalog.resume", "training.train", "inference.score",
                     "evaluation.sweep"):
            m[f"{name}_s"] = tracer.seconds(name)
        m["mentions.rows"] = rows["candidates"]["rows"]
        m["ds_label.partition_skew"] = em["max_partition_rows"] / max(
            em["p50_partition_rows"], 1)
        m["pairs.labeled_share"] = n_labeled / n_pairs
        m["graphs.edges"] = sum(
            rows[f"{ns}_{g}"]["rows"] for ns in ("rm", "em")
            for g in ("mention_feature", "mention_feature_test",
                      "mention_type", "mention_type_test", "feature_type"))
        m["catalog.bytes_written"] = wh_bytes
        m["catalog.files_written"] = wh_files
        m["evaluation.learned_precision"] = learned["metrics"]["precision"]
        m["evaluation.learned_recall"] = learned["metrics"]["recall"]
        m["evaluation.learned_f1"] = learned["metrics"]["f1"]
        # a trigger's own work (offsets, planning, write-ahead and commit
        # logs) is its duration less the sink's addBatch
        add = [b["durationMs"]["addBatch"] / 1000.0 for b in batches]
        m["ingest.trigger_s"] = statistics.median(
            c - a for c, a in zip(commit, add))
        m["ingest.add_batch_s"] = statistics.median(add)
        m["ingest.commit_p50_s"] = statistics.median(commit)
        m["catalog.sink_bytes_per_commit"] = statistics.mean(sizes)
        m["catalog.rewrite_amplification"] = statistics.mean(
            sz / max(delta_rows.get(b["batchId"], 0), 1)
            for sz, b in zip(sizes, batches))
        own = "batch_dag" if self.workload == "kg_batch" else "ingest.stream"
        m["trace.wall_s"] = tracer.seconds(own)
        self.extra.update({
            "commit_samples_s": commit, "learned_theta": learned["theta"],
        })
        self.tracer = tracer

    def check_learned(self, wh_t: str, turns, learned: dict) -> None:
        """``run_learned`` itself, untraced, on a copy of the traced
        warehouse without the learned stages, must give the traced P/R/F1.
        One workload's traced run makes this check: the call sequence is
        the same on both, and the reference costs 20 s of run budget."""
        wh_r = os.path.join(self.work, "wh-reference")
        shutil.copytree(wh_t, wh_r, ignore=shutil.ignore_patterns(
            "rm_emb_*", "triples_learned*"))
        ref = self.op("run_learned", lambda: KGPipeline(self.spark, wh_r)
                      .run_learned(turns, self.aliases, self.facts,
                                   self.brown, epochs=spec.EPOCHS,
                                   lr=spec.LEARN_RATE))
        keys = ("precision", "recall", "f1")
        got = [learned["metrics"][k] for k in keys] + [learned["theta"]]
        want = [ref["metrics"][k] for k in keys] + [ref["theta"]]
        self.check("traced_learned_prf_equals_run_learned", got == want,
                   f"({got} vs {want})")

    def traced_stream(self, tracer: Tracer, ck: str, target: str):
        with VersionWatcher(target) as watch, tracer.span("ingest.stream"):
            batches = self.stream_job(ck, target)
        return batches, [watch.sizes.get(f"v{b['batchId']}", 0)
                         for b in batches]

    def traced_batch_dag(self, tracer: Tracer, pipe: KGPipeline,
                         turns) -> dict:
        """``run`` and ``kg_tables``, then ``run_graphs``' own steps, one
        span per call; returns the RM graph tables."""
        w, al, fa, brown = pipe.wh, self.aliases, self.facts, self.brown
        with tracer.span("batch_dag"):
            with tracer.span("mentions.sentences"):
                s = self.op("sentences", lambda: pipe.sentences(turns))
            with tracer.span("mentions.candidates"):
                c = self.op("candidates", lambda: pipe.candidates(s))
            with tracer.span("ds_label.entity_mentions"):
                e = self.op("entity_mentions",
                            lambda: pipe.entity_mentions(c, al))
            with tracer.span("pairs.rm_pairs"):
                r = self.op("rm_pairs", lambda: pipe.rm_pairs(e, fa))
            with tracer.span("pairs.triples_ds"):
                self.op("triples_ds", lambda: pipe.triples_ds(r))
            with tracer.span("kg_materialize.kg_tables"):
                self.op("kg_tables", lambda: pipe.kg_tables(al, fa))
            # run_graphs begins by re-invoking run(), every stage skipped
            with tracer.span("catalog.rerun"):
                self.op("run", lambda: pipe.run(turns, al, fa))
            s, e, r = (w.read("sentences"), w.read("entity_mentions"),
                       w.read("rm_pairs"))
            with tracer.span("features.rm_rows"):
                rm_rows = self.op("rm_feature_rows",
                                  lambda: pipe.rm_feature_rows(r, s, brown))
            with tracer.span("features.em_rows"):
                em_rows = self.op("em_feature_rows",
                                  lambda: pipe.em_feature_rows(e, s, brown))
            with tracer.span("graphs.rm"):
                rm = self.op("graph_tables_rm",
                             lambda: pipe.graph_tables(rm_rows, "rm"))
            with tracer.span("graphs.em"):
                self.op("graph_tables_em",
                        lambda: pipe.graph_tables(em_rows, "em"))
            with tracer.span("graphs.triples_mention"):
                self.op("triples_mention", lambda: pipe.triples_mention(r))
        return rm

    def traced_learned(self, tracer: Tracer, pipe: KGPipeline,
                       rm: dict) -> dict:
        """``run_learned``'s steps after ``run_graphs``, one span each."""
        spark = self.spark
        trainer = CoTypeRMTrainer(spark, pipe.wh, "rm", lr=spec.LEARN_RATE)
        with tracer.span("training.train"):
            embs = self.op("train", lambda: trainer.train(
                rm["mention_feature"], rm["feature_type"],
                rm["mention_type"], epochs=spec.EPOCHS))
        none_id = h64_py("None")
        gt = rm["mention_type_test"].select("mention_id", "type_id")
        with tracer.span("inference.score"):
            def score():
                me = inf.mention_embeddings(rm["mention_feature_test"],
                                            embs["feature"])
                scored = inf.score_types(spark, me, embs["type"], "cosine",
                                         none_id)
                return inf.min_max_normalize(scored).localCheckpoint()
            normalized = self.op("score_types", score)
        with tracer.span("evaluation.sweep"):
            best = self.op("sweep", lambda: ev.best_threshold(
                ev.sweep_thresholds(normalized, gt, none_id)))
        theta = best["theta"]
        preds = normalized.where(F.col("score_norm") > theta).select(
            "mention_id", "type_id", F.col("score_norm").alias("score"))
        with tracer.span("evaluation.evaluate"):
            metrics = self.op("evaluate", lambda: ev.evaluate_rm_neg(
                preds.select("mention_id", "type_id"), gt, none_id))
        with tracer.span("inference.materialize"):
            def materialize():
                pairs = pipe.wh.read("rm_pairs").withColumn(
                    "is_test", F.pmod(h64(F.concat(F.col("conv_id"),
                                                   F.lit("|split"))),
                                      F.lit(5)) == 0).where("is_test")
                return pipe.wh.write("triples_learned",
                                     inf.materialize_triples(
                                         preds, pairs, rm["types"]))
            self.op("materialize_triples", materialize)
        return {"metrics": metrics, "theta": theta}

    def delta_rows(self, ck: str) -> dict[int, int]:
        """Distinct edges each micro-batch contributed: the file-source log
        names each batch's file; the file's evidence is aggregated in
        batch mode."""
        per_file: dict[str, int] = {}
        src_log = os.path.join(ck, "sources", "0")
        batch_file: dict[int, str] = {}
        for name in os.listdir(src_log):
            if not name.isdigit():
                continue
            with open(os.path.join(src_log, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    rec = json.loads(line)
                    batch_file[int(rec["batchId"])] = rec["path"]
        src = self.spark.read.schema(TURN_SCHEMA).parquet(
            self.inputs["stream"])
        conv_file = src.select("conv_id", F.input_file_name().alias("_file")) \
            .distinct()
        ev_rows = ingest.turn_local_triples_join(src, self.aliases,
                                                 self.facts)
        for r in ev_rows.join(conv_file, "conv_id") \
                .select("_file", "subj", "pred", "obj").distinct() \
                .groupBy("_file").count().collect():
            per_file[os.path.basename(r["_file"])] = r["count"]
        return {b: per_file.get(os.path.basename(p), 0)
                for b, p in batch_file.items()}

    # ------------------------------------------------------------- result
    def phase(self, name: str) -> None:
        """Record the seconds since the previous phase ended."""
        now = time.perf_counter()
        self.extra.setdefault("phase_s", {})[name] = now - self._phase_t0
        self._phase_t0 = now

    def run(self) -> None:
        self._phase_t0 = time.perf_counter()
        self.extra["nproc"] = os.cpu_count()
        self.extra["load_before"] = loadavg()
        self.extra["canary_s"] = cpu_canary()
        self.phase("canary")
        try:
            self.setup()
            self.phase("setup")
            if self.trace:
                self.traced()
            else:
                self.measure()
            self.phase("trace" if self.trace else "measure")
        finally:
            self.stop()
            self.phase("stop")
        if self.trace:
            spans = os.path.join(self.out_dir, "spans")
            os.makedirs(spans, exist_ok=True)
            self.tracer.write(os.path.join(spans, f"{self.run_id}.jsonl"))
            self.metrics.update(layer_task_metrics(
                os.path.join(self.work, "eventlog"), self.tracer.spans,
                spec.TRACED_LAYERS))
        else:
            self.metrics["peak_rss_mb"] = self.sampler.peak_rss_kb / 1024.0
            self.extra["processes_seen"] = len(self.sampler.pids)
        self.metrics["failed_frac"] = self.failed / max(self.attempted, 1)
        n = self.extra["nproc"]
        self.extra["load_peak"] = self.sampler.load_peak
        self.extra["steal_frac"] = self.sampler.steal_frac
        # the run itself keeps nproc cores busy and a previous run's load
        # lingers in the 1-minute average, so load flags only well past
        # that; 3% of CPU time stolen by the hypervisor already slows
        # wall_s by about 15%
        self.extra["contended"] = (self.extra["load_peak"] > n * 1.5
                                   or self.sampler.steal_frac > 0.03)
