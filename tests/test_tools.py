"""Unit tests of the checked-in tools' pure helpers (no Spark)."""

import datetime
import importlib.util
import os

import pytest

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_rest_timestamp_keeps_milliseconds():
    ts = _tool("profile_query")._ts
    want = datetime.datetime(2026, 10, 17, 1, 25, 27, 123000, tzinfo=datetime.timezone.utc).timestamp()
    assert ts("2026-10-17T01:25:27.123GMT") == want
    assert ts("2026-10-17T01:25:28.004GMT") - ts("2026-10-17T01:25:27.999GMT") == pytest.approx(0.005, abs=1e-6)
    assert ts(None) is None
