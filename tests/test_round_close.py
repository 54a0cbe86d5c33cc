"""scripts/round_close.py's ``--bench-only`` precondition on the
recorded gate state."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "round_close.py",
)


@pytest.mark.parametrize("content", ["{not json", "[1, 2]", b"\xff\xfe"])
def test_bench_only_refuses_corrupt_gate_state(
    tmp_path, monkeypatch, capsys, content
):
    """A corrupt or non-object gate file refuses the retake with a
    message instead of a traceback."""
    spec = importlib.util.spec_from_file_location("round_close", _SCRIPT)
    rc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rc)
    gate = tmp_path / "gates.json"
    if isinstance(content, bytes):
        gate.write_bytes(content)
    else:
        gate.write_text(content)
    monkeypatch.setattr(rc, "GATE_STATE", str(gate))
    monkeypatch.setattr(sys, "argv", ["round_close.py", "19", "--bench-only"])
    assert rc.main() == 2
    assert "--bench-only refused" in capsys.readouterr().out
