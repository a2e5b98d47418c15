"""The examples/ demos must stay runnable — they are the user-facing
composition proof (each spawns its own interpreter + SparkSession, so
they run as subprocesses to keep the shared test session intact)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *args: str) -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", script), *args],
        capture_output=True,
        text=True,
        # the curation demo is ~5-6 min of real stages at sf0.01 on
        # the subprocess's local[4]; 420 s started flaking once the
        # r9 target-affinity stage joined the chain, and the r10
        # vocab-OOV gate + coverage audit add two more fit passes
        # (the train split is now checkpointed once to keep the
        # audit's scans from recomputing the whole upstream chain)
        timeout=780,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_curation_demo_runs_end_to_end():
    # arg is the sf_dir; default sf0.01 testdata
    stdout = _run("curation_pipeline_demo.py")
    assert "final training set under" in stdout, stdout


def test_podcast_pipeline_demo_runs(tmp_path):
    stdout = _run("podcast_pipeline_demo.py", str(tmp_path / "wh"))
    assert stdout.strip(), "demo produced no output"


def test_corpus_report_demo_runs():
    stdout = _run("corpus_report_demo.py")
    assert "corpus report complete" in stdout, stdout
    assert "coverage 90%:" in stdout, stdout
    assert "embedding norm outliers:" in stdout, stdout
    # r12 sections: the synthetic corpus is encoding-clean, and the
    # PPS audit sample carries exactly its k picks
    assert "encoding-suspect docs: 0/" in stdout, stdout
    assert "carrying 50 picks" in stdout, stdout


def test_trained_index_lifecycle_demo_runs(tmp_path):
    stdout = _run(
        "trained_index_lifecycle_demo.py",
        "/root/testdata/sf0.01",
        str(tmp_path / "work"),
    )
    assert "partition-pruned scan: True" in stdout, stdout
    assert "mismatched codebook refused" in stdout, stdout
    assert "fresh baseline reads unity: True" in stdout, stdout
    assert "lifecycle demo complete" in stdout, stdout


def test_hybrid_search_demo_runs(tmp_path):
    stdout = _run(
        "hybrid_search_demo.py",
        "/root/testdata/sf0.01",
        str(tmp_path / "work"),
    )
    assert "term-pruned index scan: True" in stdout, stdout
    assert "fused top-5 per probe" in stdout, stdout
    assert "no append by design" in stdout, stdout
    assert "hybrid search demo complete" in stdout, stdout
