"""``tools/check_oracles.py`` refuses a query name the registry does
not hold, before it starts Spark: a name that matches nothing would
run no query and report ``0 failures``."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import check_oracles  # noqa: E402

from ssb_coefficient_maker_spark import session  # noqa: E402


def test_unknown_query_name_is_refused_without_spark(monkeypatch, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("check_oracles started Spark for an unknown name")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["check_oracles.py", "/nonexistent", "q235",
                                      "q24_formula_coeffmap"])
    assert check_oracles.main() != 0
    out = capsys.readouterr().out
    assert "q235" in out.split("—")[0]
    assert "q24_formula_coeffmap" not in out
