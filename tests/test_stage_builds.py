"""How the pipeline builds its stages: KB inputs evaluated once, independent
stages built concurrently under the caller's job group, torn writes
rebuilt, and every table read back with the schema it was written with."""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from usc_ds_relationextraction_spark.plans.pipeline import KGPipeline
from usc_ds_relationextraction_spark.sources import synthetic as syn
from usc_ds_relationextraction_spark.sources.catalog import Warehouse


def _counted(spark, df):
    """``df``'s rows re-served through an RDD whose map bumps an
    accumulator: the accumulator counts the rows evaluated."""
    acc = spark.sparkContext.accumulator(0)

    def tick(row):
        acc.add(1)
        return row

    rows = df.collect()
    rdd = spark.sparkContext.parallelize(rows, 2).map(tick)
    return spark.createDataFrame(rdd, df.schema), acc, len(rows)


@pytest.fixture(scope="module")
def built(spark, tiny_corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_stages"))
    aliases, al_acc, n_al = _counted(spark, syn.kb_aliases(spark))
    facts, fa_acc, n_fa = _counted(spark, syn.kb_facts(spark))
    brown = {r.word: r.cluster for r in syn.brown_clusters(spark).collect()}
    p = KGPipeline(spark, wh)
    out = {"triples_ds": p.run(tiny_corpus, aliases, facts)}
    out.update(p.kg_tables(aliases, facts))
    for ns, tabs in p.run_graphs(tiny_corpus, aliases, facts, brown).items():
        out.update({f"{ns}_{t}": df for t, df in tabs.items()})
    evaluated = (al_acc.value, fa_acc.value)
    return {"wh": wh, "pipe": p, "out": out, "aliases": aliases,
            "facts": facts, "brown": brown, "acc": (al_acc, fa_acc),
            "evaluated": evaluated, "rows": (n_al, n_fa)}


def test_kb_inputs_evaluated_once(built, spark, tiny_corpus):
    assert built["evaluated"] == built["rows"]
    # a fully resumed call, on a new pipeline instance, scans no KB input
    p = KGPipeline(spark, built["wh"])
    al, fa = built["aliases"], built["facts"]
    p.run(tiny_corpus, al, fa)
    p.kg_tables(al, fa)
    p.run_graphs(tiny_corpus, al, fa, built["brown"])
    assert tuple(a.value for a in built["acc"]) == built["rows"]


def test_concurrent_first_use_pins_once(spark, tmp_path):
    """Many builds asking for the same KB input at once get one pinned
    copy, evaluated once."""
    aliases, acc, n = _counted(spark, syn.kb_aliases(spark))
    p = KGPipeline(spark, str(tmp_path))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(p._kb, aliases) for _ in range(16)]
            pinned = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert all(x is pinned[0] for x in pinned)
    assert acc.value == n


def test_once_builds_once_under_concurrent_first_calls():
    """``graph_tables`` shares one thunk per table among its concurrent
    builds: every caller gets the one result, and it is made once."""
    from usc_ds_relationextraction_spark.plans.pipeline import _once

    made = []
    get = _once(lambda: made.append(object()) or made[-1])
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(get) for _ in range(64)]
            got = [f.result(timeout=30) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert len(made) == 1
    assert all(g is made[0] for g in got)


def test_metrics_one_line_per_stage(built):
    with open(os.path.join(built["wh"], "_metrics.jsonl")) as fh:
        lines = fh.read().splitlines()
    recs = [json.loads(line) for line in lines]
    stages = [r["stage"] for r in recs]
    assert len(stages) == len(set(stages))
    on_disk = {n[:-len(".parquet")] for n in os.listdir(built["wh"])
               if n.endswith(".parquet")}
    assert set(stages) == on_disk
    assert all(r["rows"] == sum(r["per_partition"]) for r in recs)


def test_write_reads_back_the_inferred_schema(built):
    """``Warehouse.write`` passes the written schema to its re-read; it
    must equal what schema inference finds, nested nullability included."""
    # a fresh instance has no written schemas to pass, so it infers each
    wh = Warehouse(built["pipe"].spark, built["wh"])
    for name, df in built["out"].items():
        assert df.schema == wh.read(name).schema, name


def test_graph_tables_jobs_inherit_job_group(built, spark, tmp_path):
    sc = spark.sparkContext
    group = "test-graph-tables-group"
    rows = built["pipe"].wh.read("rm_feature_rows")
    p = KGPipeline(spark, str(tmp_path))
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        p.graph_tables(rows, "rm")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # seven stage writes, each at least one job, all in the caller's group
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 7
    # no new ungrouped job; the status store may drop old ones meanwhile
    # (spark.ui.retainedJobs evicts the oldest in batches), so compare
    # by difference, not equality
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


def test_branch_exception_propagates_from_run_graphs(built, monkeypatch,
                                                     tiny_corpus):
    p = built["pipe"]

    def boom(*args, **kwargs):
        raise RuntimeError("em branch failed")

    monkeypatch.setattr(p, "em_feature_rows", boom)
    with pytest.raises(RuntimeError, match="em branch failed"):
        p.run_graphs(tiny_corpus, built["aliases"], built["facts"],
                     built["brown"])


def test_torn_parquet_stage_is_rebuilt(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    # a killed job: one part file, no _SUCCESS
    spark.range(3).coalesce(1).write.parquet(wh.path("t"))
    os.remove(os.path.join(wh.path("t"), "_SUCCESS"))
    assert not wh.exists("t")
    out = wh.ensure("t", lambda: spark.range(5))
    assert out.count() == 5
    assert wh.exists("t")
    assert [r["stage"] for r in wh.metrics()] == ["t"]


def test_local_file_system_sets_modes_in_process(spark, tmp_path):
    """``file:`` is the in-process local file system ``get_spark`` builds,
    and it sets the modes Hadoop asks for: a new directory's (umask
    applied), a file's, and a sticky directory's, which still takes
    Hadoop's ``chmod`` path."""
    from usc_ds_relationextraction_spark import session
    if session._local_fs_classes() is None:
        pytest.skip("javac cannot build the in-process local file system")
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == session._LOCAL_FS
    path = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    def mode(p):
        return os.stat(p).st_mode & 0o7777

    d = tmp_path / "a" / "b"
    assert fs.mkdirs(path(str(d)), perm(0o770))
    assert (mode(d.parent), mode(d)) == (0o755, 0o750)
    f = d / "f"
    f.write_bytes(b"x")
    fs.setPermission(path(str(f)), perm(0o604))
    assert mode(f) == 0o604
    fs.setPermission(path(str(d)), perm(0o1777))
    assert mode(d) == 0o1777
