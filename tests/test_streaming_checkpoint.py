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
    # of its rows) and leave no stream running
    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import QUERIES, run

    load_all()
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
