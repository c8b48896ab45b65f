"""bench.py's one-line JSON under its print budget: stdout carries only
the line, and a pinned query cut to fit is named on stderr."""

from __future__ import annotations

import json
import os
from unittest import mock

import pytest


@pytest.fixture()
def bench():
    with mock.patch.dict(os.environ):  # bench.py sets a driver-memory default
        import bench
    return bench


def _timings(bench, n_extra: int) -> dict[str, float]:
    timings = {q: 1.0 + i / 100 for i, q in enumerate(sorted(bench._PRINT_PINNED))}
    timings.update({f"extra_query_{i}": 0.5 for i in range(n_extra)})
    return timings


def test_unpinned_drops_are_silent(bench, capsys):
    timings = _timings(bench, 200)
    line = bench._fit_line(10.0, timings, 0.1)
    body = json.loads(line)
    assert len(line) <= bench._PRINT_BUDGET
    assert bench._PRINT_PINNED <= set(body["queries"])
    assert body["queries_omitted"] == len(timings) - len(body["queries"])
    assert capsys.readouterr().err == ""


def test_pinned_drops_are_named_on_stderr(bench, capsys, monkeypatch):
    monkeypatch.setattr(bench, "_PRINT_BUDGET", 600)
    timings = _timings(bench, 5)
    line = bench._fit_line(10.0, timings, 0.1)
    kept = set(json.loads(line)["queries"])
    dropped = sorted(bench._PRINT_PINNED - kept)
    out = capsys.readouterr()
    assert len(line) <= 600 and dropped
    assert out.out == ""
    assert f"dropped {len(dropped)} pinned" in out.err
    assert sorted(out.err.rsplit("): ", 1)[1].strip().split(", ")) == dropped
