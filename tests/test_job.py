"""job.py's two modes compile one spec: the batch job and the streaming
drain write the same sinks, and --dlq moves quarantined rows in both.
Each run calls job.main() in-process, on the session fixture's Spark."""

from __future__ import annotations

import contextlib
import io
import json
import sys
from unittest import mock

import pytest

SF = "sf0.001"  # the fixture tier follows the sf dir's basename
ROUTE_SINKS = ("errors", "tool_events", "general", "human_turns")


def _run_job(*argv: str) -> dict[str, int]:
    import job

    buf = io.StringIO()
    with mock.patch.object(sys, "argv", ["job.py", *argv]), contextlib.redirect_stdout(buf):
        job.main()
    line = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)["sinks"]


def test_job_batch_and_streaming_dlq_write_the_same_sinks(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.registry.telemetry import q_pipeline_quarantine

    outs = {m: str(tmp_path / m) for m in ("batch", "stream")}
    batch = _run_job("--input", SF, "--output", outs["batch"], "--dlq")
    stream = _run_job("--input", SF, "--output", outs["stream"], "--streaming", "--dlq")
    want = {"errors": 13, "tool_events": 60, "general": 349, "human_turns": 86, "quarantine": 296}
    assert {k: batch[k] for k in want} == want
    assert stream == want
    assert q_pipeline_quarantine(spark, SF).count() == want["quarantine"]
    for out in outs.values():
        bad = spark.read.parquet(f"{out}/quarantine").select("conv_id", "turn_idx")
        for name in ROUTE_SINKS:
            sink = spark.read.parquet(f"{out}/{name}")
            assert sink.join(bad, ["conv_id", "turn_idx"], "left_semi").count() == 0, (out, name)


def test_job_streaming_config_without_routes_writes_one_sink(spark, tmp_path):
    """A spec with no routes section is the single-exporter topology in
    both modes: one `all` sink, not the fixture route table."""
    from opentelemetry_collector_contrib_spark.fixtures import ensure_tier

    cfg = tmp_path / "spec.json"
    cfg.write_text(json.dumps({"source": {"path": ensure_tier("t1")}}))
    batch = _run_job("--input", SF, "--output", str(tmp_path / "b"), "--config", str(cfg))
    stream = _run_job(
        "--input", SF, "--output", str(tmp_path / "s"), "--config", str(cfg), "--streaming"
    )
    assert batch == stream == {"all": spark.read.parquet(ensure_tier("t1")).count()}


@pytest.mark.parametrize(
    "flag", [["--qa-gate"], ["--profile"], ["--repartition-conv", "4"]]
)
def test_job_streaming_refuses_batch_only_flags(flag, tmp_path, capsys):
    with pytest.raises(SystemExit) as exc:
        _run_job("--input", SF, "--output", str(tmp_path / "o"), "--streaming", *flag)
    assert exc.value.code == 2
    assert "batch-only" in capsys.readouterr().err
