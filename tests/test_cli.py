"""Smoke tests for the ``python -m hadoop_brotli_spark`` CLI: the
operational surface must keep working with a cold interpreter (no
pytest session Spark), since that is how an operator would call it.
"""

from __future__ import annotations

import json
import subprocess
import sys

SF = "/root/testdata/sf0.001"


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "hadoop_brotli_spark", *args],
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_cli_list():
    p = _run("list")
    assert p.returncode == 0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("q")]
    assert len(lines) >= 190
    assert any(ln.startswith("q01_pricing_summary\t") for ln in lines)


def test_cli_run_json():
    p = _run("run", "q01_pricing_summary", "--sf-dir", SF, "--json")
    assert p.returncode == 0, p.stderr[-2000:]
    rows = [json.loads(ln) for ln in p.stdout.splitlines()
            if ln.startswith("{")]
    assert rows and "sum_qty" in rows[0]


def test_cli_unknown_query():
    p = _run("run", "q_nope")
    assert p.returncode == 2


def test_cli_verify_one():
    p = _run("verify", "q01_pricing_summary", "--sf-dir", SF)
    assert p.returncode == 0, p.stderr[-2000:]
    assert "OK   q01_pricing_summary" in p.stdout


def test_cli_verify_unknown():
    p = _run("verify", "q_nope")
    assert p.returncode == 2


def test_unknown_query_fails_before_spark_starts(monkeypatch):
    from hadoop_brotli_spark import __main__ as cli

    def no_spark(*_):
        raise AssertionError("Spark started for an unknown query")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    assert cli.main(["run", "q_nope"]) == 2
    assert cli.main(["verify", "q_nope"]) == 2
