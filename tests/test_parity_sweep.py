"""The whole-registry sweep (tools/parity.py): every query it checks is
timed, one raising query is a mismatch rather than the end of the run,
the exit code reports any mismatch, and an untimed warm-up run of the
first query keeps start-up cost out of the timings."""

from __future__ import annotations

import importlib.util
import re
import time
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


def test_sweep_warms_up_the_first_query_untimed(
    spark, sf_dir, monkeypatch, capsys
):
    parity = _load_parity()
    calls = []

    def cold_once(spark_, sf_dir_):
        # only the first run pays a start-up cost
        calls.append(1)
        if len(calls) == 1:
            time.sleep(3.0)
        return spark_.range(2)

    monkeypatch.setitem(parity.QUERIES, "cold_once", cold_once)
    monkeypatch.setattr(parity, "get_spark", lambda _app: spark)
    monkeypatch.setattr("sys.argv", ["parity.py", sf_dir, "cold_once"])
    rc = parity.main()
    out = capsys.readouterr().out

    assert rc == 0
    assert len(calls) == 2  # one warm-up, one timed run
    assert out.count("cold_once: rows-only (2 rows") == 1
    m = re.search(r"1/1 queries match at .* \((\d+\.\d) s Spark\)", out)
    assert float(m.group(1)) < 3.0, out
