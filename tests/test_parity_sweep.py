"""The whole-registry sweep (tools/parity.py): every query it checks is
timed, one raising query is a mismatch rather than the end of the run,
and the exit code reports any mismatch."""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load_parity():
    spec = importlib.util.spec_from_file_location(
        "parity", REPO / "tools" / "parity.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sweep_times_each_query_and_survives_a_raising_one(
    spark, sf_dir, monkeypatch, capsys
):
    parity = _load_parity()

    def boom(spark_, sf_dir_):
        raise RuntimeError("simulated query failure")

    monkeypatch.setitem(parity.QUERIES, "boom", boom)
    monkeypatch.setattr(parity, "get_spark", lambda _app: spark)
    monkeypatch.setattr(
        "sys.argv",
        ["parity.py", sf_dir, "q1_pricing_summary", "boom", "q3_shipping_priority"],
    )
    rc = parity.main()
    out = capsys.readouterr().out

    assert rc == 1
    assert "boom: ERROR RuntimeError: simulated query failure" in out
    for name in ("q1_pricing_summary", "q3_shipping_priority"):
        assert re.search(rf"{name}: OK \(\d+ rows, \d+ cols, \d+\.\d\d s\)", out), out
    assert re.search(rf"2/3 queries match at {re.escape(sf_dir)} \(\d+\.\d s Spark\)", out), out
