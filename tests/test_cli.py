"""Subprocess test for the interactive front door (``__main__``) —
parity with the reference's prompt (``RainStorm.java:879-922``)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the traffic-signs CSV shape the reference demos on (FIXTURES.md §1):
# quoted fields containing commas must survive the text pipeline
CSV = "\n".join(
    [
        "OBJECTID,Sign_Type,Size_,Location",
        '1,Stop,"30"",36""",Main St',
        "2,Yield,24,Elm St",
        "3,Stop,30,Punched Telespar",
        "4,Warning,36,Oak Ave",
        "",
    ]
)


def _run_cli(args: list[str], stdin: str | None = None) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    return subprocess.run(
        [sys.executable, "-m", "real_time_stream_processing_engine_spark", *args],
        input=stdin,
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=240,
    )


def test_cli_one_shot_two_op_pipeline(tmp_path):
    src = tmp_path / "traffic_signs.csv"
    src.write_text(CSV)
    proc = _run_cli(
        [f'RAINSTORM "FILTER:Stop" "TRANSFORM:uppercase" {src} 2']
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = [l for l in proc.stdout.splitlines() if "STOP" in l]
    # the two Stop rows, uppercased, with provenance columns along for the ride
    assert len(out) == 2
    assert any("PUNCHED TELESPAR" in l for l in out)
    # the quoted field with embedded commas/quotes rode through the text pipeline
    assert any('"30"",36"""' in l for l in out)


def test_cli_repl_session(tmp_path):
    src = tmp_path / "lines.txt"
    src.write_text("error alpha\nok beta\nerror gamma\n")
    script = (
        f'RAINSTORM "FILTER:error" "AGGREGATE" {src} 2\n'
        "ls " + str(tmp_path) + "\n"
        "bogus\n"
        "exit\n"
    )
    proc = _run_cli([], stdin=script)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "2" in proc.stdout  # running count of the two error lines
    assert "lines.txt" in proc.stdout  # ls output
    assert "unknown command" in proc.stdout  # bad input survives, REPL continues


def test_cli_one_shot_nonzero_exit_on_error(tmp_path):
    proc = _run_cli([f'RAINSTORM "FILTER:x" {tmp_path}/does_not_exist.txt 2'])
    assert proc.returncode == 1
    assert "error:" in proc.stdout


def test_cli_sql_front_door(tmp_path):
    """`sql` registers the testdata tables and runs ANSI SQL."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "real_time_stream_processing_engine_spark",
         "sql SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"],
        capture_output=True, text=True, timeout=300,
        env={**__import__("os").environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("registered")]
    assert lines[0] == "event_type\tn"
    assert len(lines) == 6  # 5 event types + header


def test_repl_commands_give_usage_not_index_error(spark):
    """r5 review: bare `ls`/`merge`/`sql`/`use` printed 'error: list
    index out of range'; they must print a usage hint."""
    import io

    from real_time_stream_processing_engine_spark.__main__ import _dispatch

    for cmd in ("ls", "merge", "sql", "use"):
        buf = io.StringIO()
        assert _dispatch(spark, cmd, out=buf) == "error"
        assert "usage:" in buf.getvalue()
        assert "index out of range" not in buf.getvalue()


def test_parser_rejects_malformed_aggregate_grouping(spark):
    """r5 review: `AGGREGATE:sum:price:key=region` silently returned a
    GLOBAL sum; malformed grouping must error."""
    import pytest as _pytest

    from real_time_stream_processing_engine_spark.operators.parser import (
        create_operator,
    )

    with _pytest.raises(ValueError, match="by="):
        create_operator("AGGREGATE:sum:price:key=region")
    with _pytest.raises(ValueError, match="requires a field"):
        create_operator("AGGREGATE:sum")
    with _pytest.raises(ValueError, match="unknown aggregate"):
        create_operator("AGGREGATE:median:price")
