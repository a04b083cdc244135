import duckdb
import numpy as np
import pandas as pd
import pytest

import checks
import loadgen
import tracing as trace


def _files():
    load = loadgen.AirQualityLoad(seed=2, rows_per_file=400)
    return [load.render(i, 1_700_000_000.0 + i)[1] for i in range(2)]


def _split(files):
    good = [int(i) for f in files for i, b in zip(f.event_ids, f.corrupt) if not b]
    bad = [int(i) for f in files for i, b in zip(f.event_ids, f.corrupt) if b]
    return good, bad


def test_accounting_accepts_the_right_split():
    files = _files()
    good, bad = _split(files)
    assert checks.ingest_accounting(files, good, bad) == (0, [])


@pytest.mark.parametrize("mutate", ["drop", "duplicate", "misroute"])
def test_accounting_rejects_a_wrong_split(mutate):
    files = _files()
    good, bad = _split(files)
    if mutate == "drop":
        good = good[1:]
    elif mutate == "duplicate":
        good = good + good[:1]  # an epoch replayed into the table
    else:
        good, bad = good + bad[:1], bad[1:]
    failed, problems = checks.ingest_accounting(files, good, bad)
    assert failed > 0 and problems


def test_dashboard_check_rejects_a_wrong_tile():
    records = [r for f in _files() for r in f.records]
    members = [records[0]["location"]]
    want = checks.expected_dashboard(records, members, k=5)
    got = {
        "tiles": {k: (round(v, 2) if k.startswith("avg_") else v) for k, v in want["tiles"].items()},
        "aqi": dict(want["aqi"]),
        "current": dict(want["current"]),
        "top": list(want["top"]),
    }
    assert checks.final_dashboard(got, want) == []
    got["tiles"]["record_count"] += 1
    got["top"] = got["top"][::-1]
    assert len(checks.final_dashboard(got, want)) == 2


def test_query_check_rejects_a_wrong_result():
    con = duckdb.connect()
    sql = "SELECT range AS k, CAST(range * 2 AS BIGINT) AS v FROM range(5)"
    right = pd.DataFrame({"k": np.arange(5, dtype=np.int64), "v": np.arange(5, dtype=np.int64) * 2})
    assert checks.query_vs_oracle("q", right, con, sql) == []
    wrong = right.assign(v=right["v"] + (right["k"] == 3))
    assert checks.query_vs_oracle("q", wrong, con, sql)
    assert checks.query_vs_oracle("q", right, con, None)


def test_epoch_matching_refuses_an_unmatched_stamp():
    commits = [(10.0, 11.0, 0), (15.0, 15.5, 1)]
    assert trace.match_epochs([10.2, 15.0], commits) == {10.2: (0, 11.0), 15.0: (1, 15.5)}
    with pytest.raises(ValueError):
        trace.match_epochs([12.0], commits)
