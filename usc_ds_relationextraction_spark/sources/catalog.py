"""Warehouse: checkpointed stage tables + per-stage lineage metrics.

north_rule requirements: "checkpoint-resumable" and "per-partition lineage
and metrics tables".  Every pipeline stage materializes to a table under a
warehouse directory; re-running a pipeline skips stages whose output
was written completely (``_SUCCESS`` present; resume), and each
write appends a row to ``_metrics`` (stage, rows, wall_ms, input
fingerprint).

Format: parquet by default; ``format='iceberg'`` passes straight through
when an Iceberg catalog is configured on the session (the sandbox has no
Iceberg runtime jar, so parquet is the tested path — the API surface is
format-agnostic; ``iceberg_available`` + a skip-gated test cover the
wiring).  Per-partition row counts come from the parquet FOOTERS of the
just-written files — no second scan.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pin(small: DataFrame) -> DataFrame:
    """A small input (a KB frame) evaluated once, now, and pinned: every
    later read scans this copy instead of re-evaluating ``small``.  The
    pin keeps ``small``'s partitions, so it evaluates them in parallel;
    the pinned copy is read as one partition, so a broadcast or scan of
    it is a single task."""
    return small.localCheckpoint(eager=True).coalesce(1)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        # stages build concurrently (KGPipeline); one lock keeps each
        # _metrics.jsonl record a whole line
        self._metrics_lock = threading.Lock()
        # parquet schema of each table this instance wrote: reading it
        # back with that schema skips the schema-inference job a plain
        # read runs (one Spark job per read)
        self._schemas: dict = {}
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.{self.fmt}")

    def exists(self, name: str) -> bool:
        # done only once the write job committed _SUCCESS: part files
        # without it are a torn write, which ensure() rebuilds
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))

    def read(self, name: str) -> DataFrame:
        if name in self._schemas:
            return self.spark.read.schema(self._schemas[name]) \
                .parquet(self.path(name))
        return self.spark.read.format(self.fmt).load(self.path(name))

    def write(self, name: str, df: DataFrame, partition_by: list[str] | None = None,
              bucket_hint: str | None = None) -> DataFrame:
        """Materialize a stage table and record lineage metrics; returns the
        re-read DataFrame (truncated lineage — the localCheckpoint analog
        with on-disk durability)."""
        t0 = time.time()
        w = df.write.mode("overwrite").format(self.fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.path(name))
        if self.fmt == "parquet":
            self._schemas[name] = df.schema
        out = self.read(name)
        self._record(name, out, time.time() - t0, bucket_hint)
        return out

    def ensure(self, name: str, build, **kw) -> DataFrame:
        """Resume point: build+write only if the table is absent."""
        if self.exists(name):
            return self.read(name)
        return self.write(name, build(), **kw)

    # ------------------------------------------------------------- lineage
    MAX_PER_PARTITION_DETAIL = 64

    def _per_file_counts(self, name: str) -> list[int]:
        """Per-output-file row counts from the parquet FOOTERS of the
        just-written table — O(#files) metadata reads on the driver, no
        second scan of the data (footers carry exact row counts).
        Recurses so partitionBy() layouts (part files under key=value
        subdirectories) are counted too."""
        import pyarrow.parquet as pq
        p = self.path(name)
        counts: list[int] = []
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for fn in sorted(files):
                    if fn.endswith(".parquet"):
                        counts.append(pq.ParquetFile(
                            os.path.join(root, fn)).metadata.num_rows)
        return counts

    def _record(self, name: str, df: DataFrame, wall_s: float,
                bucket_hint: str | None) -> None:
        counts = self._per_file_counts(name) if self.fmt == "parquet" else []
        footer_detail = bool(counts)
        if not counts:
            # non-parquet formats: one metadata-driven count, still no
            # per-partition re-shuffle; n_partitions=1 here means "no
            # per-file detail", flagged via footer_detail below
            counts = [df.count()]
        counts.sort()
        n = len(counts)
        rec = {
            "stage": name,
            "rows": sum(counts),
            "n_partitions": n,
            "footer_detail": footer_detail,
            "max_partition_rows": counts[-1],
            "min_partition_rows": counts[0],
            "p50_partition_rows": counts[n // 2],
            "wall_s": round(wall_s, 3),
            "bucket_hint": bucket_hint,
        }
        # full per-partition detail only while it stays human-sized; at
        # 10^5 output files the summary above is the lineage record
        if n <= self.MAX_PER_PARTITION_DETAIL:
            rec["per_partition"] = counts
        mpath = os.path.join(self.root, "_metrics.jsonl")
        with self._metrics_lock, open(mpath, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def metrics(self) -> list[dict]:
        mpath = os.path.join(self.root, "_metrics.jsonl")
        if not os.path.exists(mpath):
            return []
        with open(mpath) as f:
            return [json.loads(line) for line in f if line.strip()]


# ------------------------------------------------------------------ iceberg
def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime classes are on the session's JVM
    classpath (skip-gate for the iceberg wiring tests)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Schema")
        return True
    except Exception:  # noqa: BLE001 — any JVM error means "not available"
        return False


# -------------------------------------------------- incremental aggregates
def merge_additive_sql(target: str, source: str, key_cols: list[str],
                       sum_cols: list[str]) -> str:
    """Iceberg MERGE for an incrementally-maintained additive aggregate
    (e.g. the canonical KG edge table's ``n_support``): matched keys add
    the batch delta, unmatched keys insert.  Additivity is the contract —
    only SUM-mergeable measures belong here (COUNT DISTINCT across
    batches is NOT additive)."""
    cond = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    sets = ", ".join(f"t.{c} = t.{c} + s.{c}" for c in sum_cols)
    return (f"MERGE INTO {target} t USING {source} s ON {cond} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT *")


def read_current_version(spark: SparkSession, target: str) -> DataFrame | None:
    """Read the committed version of an :func:`incremental_agg_sink`
    parquet target (None before the first commit).

    The result is a LAZY DataFrame pinned to the version directory the
    pointer names right now; the sink's GC deletes directories older
    than the newest ``keep_versions`` commits, so consume (or
    checkpoint) the result before ``keep_versions`` further batches
    land, or raise ``keep_versions`` on the sink for long-lived
    readers."""
    ptr = os.path.join(target, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        v = f.read().strip()
    return spark.read.parquet(os.path.join(target, v))


def incremental_agg_sink(spark: SparkSession, target: str,
                         key_cols: list[str], sum_cols: list[str],
                         fmt: str = "parquet",
                         stream_id: str | None = None,
                         keep_versions: int = 2):
    """``foreachBatch`` writer maintaining an ADDITIVE aggregate table
    incrementally — the streaming "graph materialize" path: at 10^12-turn
    scale the canonical edge table cannot be recomputed from scratch per
    micro-batch, so each batch folds its delta into the running table.

    fmt='iceberg': ``target`` is a catalog table;
    :func:`merge_additive_sql` per batch, guarded by a committed-batch
    ledger table ``{target}_batch_ledger`` — a replayed batch id is
    skipped before the (non-idempotent, additive) MERGE runs.  The one
    remaining window is a crash BETWEEN the MERGE and the ledger append
    (at-least-once for that single batch); closing it needs a
    multi-table Iceberg transaction, documented out of sandbox scope.

    Stream identity (replay-guard soundness): foreachBatch batch ids
    are monotone only WITHIN one checkpoint.  A fresh checkpoint (or a
    different query) restarting against an existing target resets ids
    to 0, and the ``committed >= batch_id`` replay guard would silently
    drop every batch until ids catch up.  Pass ``stream_id`` (the
    checkpoint path is the natural identity): it is recorded next to
    the data and a mismatching writer raises instead of corrupting.
    Without a ``stream_id``, batch 0 arriving at an already-committed
    target raises — the unidentifiable-restart case fails loudly.

    fmt='parquet' (the tested twin): versioned full rewrites with an
    atomic pointer commit.  Per batch: aggregate the batch to a delta,
    union+re-aggregate with the current version, write ``v{batch_id}/``,
    then atomically ``os.replace`` the ``_CURRENT`` pointer.  The pointer
    flip IS the commit AND the replay ledger: foreachBatch batch ids are
    monotone per checkpoint and only the last uncommitted batch is ever
    replayed, so a replayed batch sees ``committed >= batch_id`` and
    skips — a crash before the flip re-runs harmlessly against the old
    version, a crash after the flip is already committed.  Exactly-once
    in both windows.  A full rewrite per micro-batch is the honest
    parquet cost (at scale the iceberg MERGE mode replaces it); versions
    older than the previous one are GC'd."""

    def _aggs():
        """One SUM per measure column.  SUM is merge-associative
        (fold(batch deltas) == fold(all rows)), which is exactly what
        makes the incremental maintenance correct."""
        return [F.sum(c).alias(c) for c in sum_cols]

    def _check_identity(recorded: str | None, committed: int,
                        batch_id: int) -> None:
        if stream_id is not None and recorded is not None \
                and recorded != stream_id:
            raise RuntimeError(
                f"incremental_agg_sink: target {target!r} belongs to "
                f"stream {recorded!r} but this writer is {stream_id!r} — "
                f"its batch ids would silently skip/merge against the "
                f"other stream's state.  Use a fresh target, or resume "
                f"with the original checkpoint/stream_id.")
        if stream_id is None and batch_id == 0 and committed >= 0:
            raise RuntimeError(
                f"incremental_agg_sink: batch 0 arrived at target "
                f"{target!r} which is already committed to v{committed} "
                f"and carries no stream identity — this is a restart "
                f"with a fresh checkpoint; the replay guard would "
                f"silently drop batches 0..{committed}.  Pass "
                f"stream_id=<checkpoint path> (recorded on first "
                f"commit) or point the query at a fresh target.")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        import shutil
        delta = df.groupBy(*key_cols).agg(*_aggs())
        if fmt == "iceberg":
            ledger = f"{target}_batch_ledger"
            spark.sql(f"CREATE TABLE IF NOT EXISTS {ledger} "
                      f"(batch_id BIGINT, stream_id STRING)")
            head = spark.sql(
                f"SELECT MAX(batch_id) AS m, MAX(stream_id) AS s "
                f"FROM {ledger}").first()
            committed = -1 if head["m"] is None else int(head["m"])
            _check_identity(head["s"], committed, batch_id)
            if committed >= batch_id:  # replay of a committed batch
                return
            view = f"_merge_add_src_{batch_id}"
            delta.createOrReplaceTempView(view)
            spark.sql(merge_additive_sql(target, view, key_cols, sum_cols))
            spark.catalog.dropTempView(view)
            sid = "NULL" if stream_id is None else repr(stream_id)
            spark.sql(f"INSERT INTO {ledger} VALUES ({batch_id}, {sid})")
            return
        os.makedirs(target, exist_ok=True)
        ptr = os.path.join(target, "_CURRENT")
        committed = -1
        if os.path.exists(ptr):
            with open(ptr) as f:
                committed = int(f.read().strip().lstrip("v"))
        sid_path = os.path.join(target, "_STREAM")
        recorded = None
        if os.path.exists(sid_path):
            with open(sid_path) as f:
                recorded = f.read().strip()
        _check_identity(recorded, committed, batch_id)
        if stream_id is not None and recorded is None:
            tmp_sid = sid_path + f".tmp-{batch_id}"
            with open(tmp_sid, "w") as f:
                f.write(stream_id)
            os.replace(tmp_sid, sid_path)
        if committed >= batch_id:  # crash-replay of a committed batch
            return
        merged = delta
        if committed >= 0:
            # every version is written with the delta's schema: reading
            # with it skips the schema-inference job a plain read runs
            cur = spark.read.schema(delta.schema).parquet(
                os.path.join(target, f"v{committed}"))
            merged = cur.unionByName(delta).groupBy(*key_cols).agg(*_aggs())
        vdir = os.path.join(target, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(vdir)
        tmp = ptr + f".tmp-{batch_id}"
        with open(tmp, "w") as f:
            f.write(f"v{batch_id}")
        os.replace(tmp, ptr)  # the atomic commit point
        # GC: keep the newest keep_versions version dirs (the just-
        # committed one included), delete older
        vids = sorted((int(d[1:]) for d in os.listdir(target)
                       if d.startswith("v") and d[1:].isdigit()),
                      reverse=True)
        for v in vids[keep_versions:]:
            shutil.rmtree(os.path.join(target, f"v{v}"),
                          ignore_errors=True)

    return write_batch
