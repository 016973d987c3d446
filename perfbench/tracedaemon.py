"""Spark python worker daemon for traced benchmark runs.

Does what the engine's daemon does (pre-import, then hand over to
``pyspark.daemon.manager``) and additionally installs the benchmark's span
wrappers once, before any worker forks, so every worker records spans.
Selected with ``spark.python.daemon.module=perfbench.tracedaemon``.
"""

if __name__ == "__main__":
    try:
        from tesserae_ng_spark.daemon import _preimport
    except ImportError:
        _preimport = None
    if _preimport is not None:
        _preimport()
    from perfbench import trace

    trace.install()
    from pyspark.daemon import manager

    manager()
