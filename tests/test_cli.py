"""The spark-submit surface: which flags exist, and which combinations are
refused before a Spark session is built. No Spark is started here."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import SparkSession

from logstash_codec_protobuf_spark import cli

FLAGS = ["--sf-dir", "--out", "--transcripts-path", "--buckets",
         "--wave-size", "--stop-on-error", "--streaming"]


@pytest.fixture
def no_session(monkeypatch):
    """Fail the test if main() gets as far as asking for a session."""
    def refuse(*_a, **_k):
        raise AssertionError("a session was requested")

    monkeypatch.setattr(cli, "build_session", refuse)
    monkeypatch.setattr(SparkSession, "getActiveSession", refuse)


def test_help_lists_exactly_the_flags(capsys):
    with pytest.raises(SystemExit) as e:
        cli.main(["--help"])
    assert e.value.code == 0
    usage = capsys.readouterr().out.split("\n\n")[0]
    assert re.findall(r"\[?(--[a-z-]+)", usage) == FLAGS


@pytest.mark.parametrize("argv", [
    # the streaming twin routes failed parses; it cannot stop on one
    ["--streaming", "--stop-on-error", "--transcripts-path", "tr",
     "--out", "o"],
    ["--streaming", "--out", "o"],           # nothing to stream from
    ["--out", "o"],                          # batch mode without input
    ["--sf-dir", "d", "--out", "o", "--impl", "arrow"],
    ["--sf-dir", "d", "--out", "o", "--proto-version", "2"],
])
def test_refused_before_any_session(no_session, capsys, argv):
    with pytest.raises(SystemExit) as e:
        cli.main(argv)
    assert e.value.code == 2
    assert "error:" in capsys.readouterr().err
