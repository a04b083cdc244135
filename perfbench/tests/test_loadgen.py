import json

import datagen
import loadgen


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    for d in (a, b):
        load = loadgen.AirQualityLoad(seed=5, rows_per_file=300)
        for i in range(3):
            load.publish(str(d), i, 1_700_000_000.0 + i)
    names = sorted(p.name for p in a.iterdir())
    assert names == [f"part-{i:06d}.json" for i in range(3)]  # no temp files left
    for name in names:
        assert (a / name).read_bytes() == (b / name).read_bytes()
    other, _ = loadgen.AirQualityLoad(seed=6, rows_per_file=300).render(0, 1_700_000_000.0)
    assert other.encode() != (a / names[0]).read_bytes()


def test_records_carry_stamp_boundaries_and_corrupt_payloads():
    load = loadgen.AirQualityLoad(seed=1, rows_per_file=5_000)
    text, stats = load.render(0, 1_700_000_000.5)
    lines = [json.loads(line) for line in text.splitlines()]
    assert {e["created_at"] for e in lines} == {1_700_000_000.5}
    spread = [json.loads(line)["created_at"] for line in load.render(1, 10.0, span=0.5)[0].splitlines()]
    assert spread == sorted(spread) and 9.5 < spread[0] and spread[-1] < 10.0
    n_bad = int(stats.corrupt.sum())
    assert 20 < n_bad < 80  # about 1%
    assert len(stats.records) == 5_000 - n_bad
    for env, bad in zip(lines, stats.corrupt):
        if bad:
            try:
                json.loads(env["payload"])
                raise AssertionError("a truncated payload parsed")
            except json.JSONDecodeError:
                pass
    pm = {r["pm2_5"] for r in stats.records}
    temp = {r["temp_c"] for r in stats.records}
    assert set(loadgen.AQI_EDGES) <= pm and set(loadgen.TEMP_EDGES) <= temp
    assert len({r["location"] for r in stats.records}) == len(loadgen.CITIES)


def test_query_tables_are_seeded():
    a, b = datagen.tables(3, scale=0.01), datagen.tables(3, scale=0.01)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.tables(4, scale=0.01)["lineitem"].equals(a["lineitem"])
