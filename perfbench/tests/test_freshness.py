"""Freshness joins each row's processed_timestamp to the progress event
of the trigger that wrote it.  A tiny availableNow run with one file
per trigger must give every file its own epoch and commit time."""

import os

import tracing as trace
import workloads
import loadgen


def test_rows_match_their_epochs(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    load = loadgen.AirQualityLoad(seed=9, rows_per_file=50)
    files = [load.publish(str(src), i, 1_700_000_000.0 + i) for i in range(3)]
    # mtime order = file order, so each trigger takes the next file
    for i in range(3):
        os.utime(src / f"part-{i:06d}.json", (1_000 + i, 1_000 + i))
    listener = trace.ProgressListener(trace.NullTracer())
    spark.streams.addListener(listener)
    try:
        ctx = workloads.Context(spark, None, trace.NullTracer(), listener, str(tmp_path), 9, 1)
        out = str(tmp_path / "out")
        table, dead = workloads._start_chain(ctx, str(src), out, 1, available_now=True)
        table.awaitTermination()
        dead.awaitTermination()
        rows, dead_ids = workloads._landed(ctx, out)
        landed, matched = workloads._landing_times(ctx, table.id, rows)
    finally:
        spark.streams.removeListener(listener)
    epochs = {}
    for eid, created, commit, pt in zip(rows["event_id"], rows["created_at"], landed, rows["pt"]):
        epoch = matched[pt / 1e6][0]
        epochs.setdefault(int(created), set()).add(epoch)
        assert commit >= pt / 1e6
    # three files, three epochs, one epoch per file
    assert sorted(len(e) for e in epochs.values()) == [1, 1, 1]
    assert len({next(iter(e)) for e in epochs.values()}) == 3
    assert sum(len(f.records) for f in files) == len(rows)
    assert sorted(dead_ids) == sorted(
        int(i) for f in files for i, b in zip(f.event_ids, f.corrupt) if b
    )
