"""The production entrypoint, driven as a user launches it: one process
per run, so a resumed run plans its stages in a fresh JVM."""

from __future__ import annotations

import json
import subprocess
import sys

from conftest import REPO, SF_SMOKE


def _run_pipeline(out: str, *extra: str) -> dict:
    cmd = [
        sys.executable, str(REPO / "scripts" / "run_pipeline.py"),
        "--input", SF_SMOKE, "--output", out, "--partitions", "4", *extra,
    ]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def test_pipeline_resumes_every_stage_in_a_new_process(tmp_path):
    """A second process with --resume reuses all three snapshots (the
    plan fingerprint must not depend on the JVM that computed it) and
    reports the same counts as the first run."""
    out = str(tmp_path / "pipeline")
    first = _run_pipeline(out)
    second = _run_pipeline(out, "--resume")
    for res in (first, second):
        assert (res["pages"], res["pip_rows"], res["tiles"]) == (500, 87, 313)
    assert [m["stage"] for m in second["stages"]] == ["encode", "pip", "tiles"]
    assert [m["resumed"] for m in first["stages"]] == [False, False, False]
    assert [m["resumed"] for m in second["stages"]] == [True, True, True]
