"""The pre-importing worker daemon must keep stdout clean for the
pyspark.daemon port handshake — no Spark needed."""

import sys

from tesserae_ng_spark import daemon


def test_preimport_keeps_prints_off_stdout(tmp_path, monkeypatch, capsys):
    (tmp_path / "tng_noisy_mod.py").write_text("print('noisy import')\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(daemon, "PREIMPORTS", ("tng_noisy_mod",))
    monkeypatch.delitem(sys.modules, "tng_noisy_mod", raising=False)
    daemon._preimport()
    out, err = capsys.readouterr()
    assert "tng_noisy_mod" in sys.modules
    assert out == ""
    assert "noisy import" in err
