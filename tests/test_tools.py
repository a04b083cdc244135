"""Tests for the evidence-generating tools themselves — the sweep
reporter, the bench-epoch adjudicator and the profiler.  These scripts
decide what the round artifacts CLAIM, so their edge cases (flaky
re-runs, empty or incompatible anchor files) are correctness surface
too.  Only the profiler tests start Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_sweep_report_fail_then_pass_stays_visible(tmp_path, monkeypatch):
    """A FAIL followed by a passing re-run of the same query must be
    reported in a 'passed on re-run' section — not silently overwritten
    by last-verdict-wins (r9 advice: flaky failures are evidence)."""
    log = tmp_path / "sweep.log"
    log.write_text(
        "===== sf0.01\n"
        "FAIL q_flaky (hash mismatch)\n"
        "PASS q_solid\n"
        "SKIP q_rowsonly: no oracle\n"
        "===== sf0.1\n"
        "PASS q_solid\n"
        "===== sf0.01\n"
        "PASS q_flaky\n"
    )
    # sweep_report writes ORACLE_SWEEP.md next to its own parent dir —
    # run it as a subprocess against a COPY of the tool in tmp so the
    # repo's real artifact is untouched
    tooldir = tmp_path / "tools"
    tooldir.mkdir()
    src = open(os.path.join(REPO, "tools", "sweep_report.py")).read()
    (tooldir / "sweep_report.py").write_text(src)
    subprocess.run(
        [sys.executable, str(tooldir / "sweep_report.py"), str(log), "t"],
        check=True,
        capture_output=True,
    )
    out = (tmp_path / "ORACLE_SWEEP.md").read_text()
    # last verdict wins for the headline counts...
    assert "| 0.01 | 2 | 0 | 1 |" in out
    assert "| 0.1 | 1 | 0 | 0 |" in out
    assert "No failures in any scale factor." in out
    # ...but the earlier FAIL stays visible
    assert "Passed on re-run" in out
    assert "q_flaky" in out.split("Passed on re-run")[1]
    # and a terminal FAIL is still a failure
    log2 = tmp_path / "sweep2.log"
    log2.write_text(
        "===== sf0.01\nPASS q_x\n===== sf0.01\nFAIL q_x (rows)\n"
    )
    subprocess.run(
        [sys.executable, str(tooldir / "sweep_report.py"), str(log2), "t"],
        check=True,
        capture_output=True,
    )
    out2 = (tmp_path / "ORACLE_SWEEP.md").read_text()
    assert "## Failures" in out2 and "q_x" in out2


def test_bench_diff_epoch_ratio_guards(tmp_path):
    """epoch_ratio must fail with an explicit message on a missing
    'anchors' map or an empty shared-anchor set (r9 advice: not a
    StatisticsError/KeyError traceback)."""
    from bench_diff import epoch_ratio

    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    c = tmp_path / "c.json"
    a.write_text('{"anchors": {}}')
    b.write_text('{"anchors": {"q": 1.0}}')
    c.write_text('{"not_anchors": 1}')
    with pytest.raises(SystemExit, match="incompatible"):
        epoch_ratio(str(a), str(b))
    with pytest.raises(SystemExit, match="no 'anchors' map"):
        epoch_ratio(str(c), str(b))
    # zero old timings are excluded — all-zero old means incompatible
    a.write_text('{"anchors": {"q": 0.0}}')
    with pytest.raises(SystemExit, match="incompatible"):
        epoch_ratio(str(a), str(b))
    # the happy path: median of shared ratios
    a.write_text('{"anchors": {"q": 1.0, "r": 2.0, "s": 4.0}}')
    b.write_text('{"anchors": {"q": 2.0, "r": 3.0, "s": 1.0}}')
    med, per = epoch_ratio(str(a), str(b))
    assert per == {"q": 2.0, "r": 1.5, "s": 0.25}
    assert med == 1.5


def test_staleness_rotation_floor_and_plan_shape():
    """--plan output must lead with never-gated entries and the floor
    arithmetic must match the registry size."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "staleness.py"),
         "--plan"],
        check=True,
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    out = proc.stdout
    assert "rotation floor at this registry size:" in out
    import __spark_entry__ as entrymod

    n = len(entrymod.queries())
    assert f"{max(n - 150, 0)} (= {n} - 3*50" in out
    plan_lines = out.split("NEXT-WINDOW PLAN")[1].splitlines()[1:51]
    assert len(plan_lines) == 50
    # never-gated entries print a distinct '# never' tag (r11 advice
    # fix: '# r0' conflated them with a genuine round-0 gate) and
    # must lead; the rest are in nondecreasing gate-round order
    rounds = []
    for ln in plan_lines:
        tag = ln.rsplit("# ", 1)[1]
        rounds.append(-1 if tag == "never" else int(tag.lstrip("r")))
    assert rounds == sorted(rounds)


def test_profile_queries_reports_every_phase(tmp_path, sf_dir):
    """One cheap query through the real CLI: wall times plus the
    event-log counts of its build, cold and warm phases."""
    out = tmp_path / "profile.json"
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "profile_queries.py"),
         "top_tokens", "--warm", "1", "--out", str(out)],
        check=True,
        capture_output=True,
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_DRIVER_MEMORY="1g"),
    )
    (run,) = json.loads(out.read_text())
    assert run["scale"] is None and run["input_rows"] > 0 and run["cores"] >= 1
    rec = run["queries"]["top_tokens"]
    for phase in ("build", "cold", "warm"):
        assert rec[f"{phase}_s"] is not None
        assert "stages" in rec[phase] and "final_plan_exchanges" in rec[phase]
    assert rec["cold"]["stages"] >= 1


def test_profile_queries_inflation_keeps_schema_and_separates_replicas(
    spark, sf_dir, tmp_path
):
    from profile_queries import KEY_SHIFT, TESTDATA_TABLES, inflate, input_rows, write_scaled

    docs = spark.createDataFrame(
        [(1, "a b", "en", "src0", 3), (2, "c", "de", "src1", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = inflate(docs, "documents", 3)
    assert out.schema == docs.schema
    rows = out.collect()
    assert len(rows) == 6 and len({r.doc_id for r in rows}) == 6
    assert {(r.doc_id, r.text) for r in rows if r.text.startswith("a")} == {
        (1, "a b"), (1 + KEY_SHIFT, "a_1 b_1"), (1 + 2 * KEY_SHIFT, "a_2 b_2")}
    assert all(r.n_chars == len(r.text) for r in rows)

    emb = spark.createDataFrame(
        [(7, [1.0, -2.0, 3.0, 4.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    out = inflate(emb, "embeddings", 4)
    assert out.schema == emb.schema
    vecs = {r.vec_id: r.embedding for r in out.collect()}
    assert sorted(vecs) == [7 + r * KEY_SHIFT for r in range(4)]
    assert vecs[7] == [1.0, -2.0, 3.0, 4.0]
    assert all([abs(x) for x in v] == [1.0, 2.0, 3.0, 4.0] for v in vecs.values())
    assert len({tuple(v) for v in vecs.values()}) > 1

    nation = spark.createDataFrame([(0, "X", 0)], "n_nationkey int, n_name string, n_regionkey int")
    assert inflate(nation, "nation", 5) is nation

    # the written copy: one file per table, replicated tables x2, the
    # fixed dimension tables once
    write_scaled(spark, sf_dir, 2, str(tmp_path / "x2"))
    assert input_rows(str(tmp_path / "x2")) == 2 * input_rows(sf_dir)
    assert sorted(os.listdir(tmp_path / "x2")) == sorted(f"{t}.parquet" for t in TESTDATA_TABLES)
    assert all(os.path.isfile(tmp_path / "x2" / f"{t}.parquet") for t in TESTDATA_TABLES)
    assert spark.read.parquet(str(tmp_path / "x2" / "nation.parquet")).count() == (
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count())


def test_docs_and_sources_name_only_existing_tools():
    """Every ``tools/<name>.py`` that the README, the verify skill,
    ``__spark_entry__.py``, the package or the tools mention must exist.
    SCALING.md, CHANGES.md and ROADMAP.md are history and not scanned."""
    skills = glob.glob(os.path.join(REPO, ".*", "skills", "*", "SKILL.md"))
    assert skills
    paths = skills + [os.path.join(REPO, p) for p in ("README.md", "__spark_entry__.py")]
    paths += glob.glob(os.path.join(
        REPO, "etl_based_real_time_air_quality_monitoring_system_spark", "**", "*.py"),
        recursive=True)
    paths += glob.glob(os.path.join(REPO, "tools", "*.py"))
    missing = set()
    for path in paths:
        with open(path) as fh:
            for name in re.findall(r"tools/(\w+)\.py", fh.read()):
                if not os.path.isfile(os.path.join(REPO, "tools", f"{name}.py")):
                    missing.add((os.path.relpath(path, REPO), name))
    assert not missing, sorted(missing)
