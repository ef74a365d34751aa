"""Checkpointed restart / exactly-once resumption — the operational core
of streaming at scale: a stream that dies mid-corpus must resume from its
checkpoint and process each input file exactly once (no replays into the
sink, no gaps). The reference has no streaming (SURVEY §1.1); this pins
the Spark behavior the engine's streaming wing relies on.
"""

from __future__ import annotations

import shutil


def _run_stream_once(spark, in_dir: str, out_dir: str, ckpt: str, schema) -> None:
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(in_dir)
        .selectExpr("event_id", "user_id", "upper(event_type) AS event_type")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    from minimised_impala_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    first = events.filter("event_id % 2 = 0")
    second = events.filter("event_id % 2 = 1")

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 arrives; stream processes it and stops (simulated crash)
    first.write.mode("overwrite").parquet(in_dir)
    shutil.rmtree(f"{in_dir}/_spark_metadata", ignore_errors=True)
    schema = spark.read.parquet(in_dir).schema
    _run_stream_once(spark, in_dir, out_dir, ckpt, schema)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == first.count()

    # batch 2 arrives; a NEW stream resumes from the same checkpoint
    second.write.mode("append").parquet(in_dir)
    _run_stream_once(spark, in_dir, out_dir, ckpt, schema)

    out = spark.read.parquet(out_dir)
    total = events.count()
    assert out.count() == total  # every event exactly once — no replays
    assert out.select("event_id").distinct().count() == total
    # transformation applied on both runs
    assert out.filter("event_type != upper(event_type)").count() == 0


def test_streaming_builds_leave_nothing_in_the_session(spark, sf_dir):
    # a long-lived session runs every streaming query again and again: a
    # second pass must add no temp view (a memory sink's view holds all
    # of its rows), leave no stream running and leave no sink or scratch
    # directory in the staging root, only the streams' input stages
    import os

    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import QUERIES, run
    from minimised_impala_spark.tables import _staging_root

    load_all()
    before = set(os.listdir(_staging_root()))
    names = [n for n in QUERIES if n.startswith("streaming_")]
    names.append("pipeline_quality_scorecard")  # embeds a streaming build

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    passes = []
    for _ in range(2):
        for name in names:
            run(spark, name, sf_dir)
        passes.append(views())
    assert passes[1] == passes[0]
    assert spark.streams.active == []
    left = set(os.listdir(_staging_root())) - before
    assert all(d.startswith("stream_x") for d in left), sorted(left)


def test_foreach_batch_sink_builds_apart_under_racing_threads(spark, sf_dir):
    # each build lands its sink in its own scratch directory: two threads
    # building and collecting the query at once must not overwrite or
    # delete each other's files
    import threading

    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import ORACLES, fresh
    from minimised_impala_spark.seams import query_scope
    from tests.oracle import compare

    load_all()
    name = "streaming_foreach_batch_sink"
    start = threading.Barrier(2)
    results, errors = [], []

    def build() -> None:
        try:
            start.wait(timeout=30)
            with query_scope():
                results.append(compare(name, spark, sf_dir, fresh(name), ORACLES[name]))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(results) == 2
    for res in results:
        assert res["ok"] and res["strict_match"], res


def test_stage_stream_is_built_once_under_racing_threads(spark, tmp_path):
    import os
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from minimised_impala_spark.streaming.windows import _stage_stream
    from minimised_impala_spark.tables import staging_dir

    table = tmp_path / "t.parquet"
    table.mkdir()
    parts = [str(table / f"part-{i}.parquet") for i in range(2)]
    for i, part in enumerate(parts):
        pq.write_table(pa.table({"x": [i]}), part)

    start = threading.Barrier(4)
    errors = []

    def stage() -> None:
        try:
            start.wait(timeout=30)
            _stage_stream(spark, str(tmp_path), "t", copies=2)
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=stage) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []

    stage_dir = staging_dir("stream_x2", str(tmp_path), "t")
    links = [os.path.join(stage_dir, n) for n in os.listdir(stage_dir)]
    assert len(links) == 4
    assert all(os.path.islink(ln) for ln in links)
    targets = sorted(os.path.realpath(ln) for ln in links)
    assert targets == sorted(os.path.realpath(p) for p in parts * 2)
    # the losers' temp directories are gone
    root, name = os.path.split(stage_dir)
    assert [n for n in os.listdir(root) if n.startswith(name)] == [name]
