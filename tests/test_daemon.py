"""The pre-importing worker daemon: it must keep stdout clean for the
pyspark.daemon port handshake, and get_spark must make it importable by
Spark's python workers without editing this process's environment."""

import json
import os
import subprocess
import sys
import textwrap

from tesserae_ng_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_get_spark_leaves_pythonpath_unset(tmp_path):
    # a fresh interpreter outside the repo with no PYTHONPATH: the daemon
    # and its workers can only find the package through the session conf
    code = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {REPO!r})
        from tesserae_ng_spark.session import get_spark

        spark = get_spark(master="local[1]")
        names = spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("tesserae_ng_spark.daemon").__name__
        ).collect()
        spark.stop()
        print("RESULT " + json.dumps(
            {{"pythonpath": os.environ.get("PYTHONPATH"), "names": names}}
        ))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    got = json.loads(line[-1][len("RESULT "):])
    assert got["pythonpath"] is None
    assert got["names"] == ["tesserae_ng_spark"]
