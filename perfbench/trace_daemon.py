"""Spark Python worker daemon for the traced run.

Set as ``spark.python.daemon.module``: it installs the span hooks of
:mod:`spantrace` once, then hands over to PySpark's own daemon, whose
forked workers inherit the wrapped engine functions.
"""

import spantrace

spantrace.install()

from pyspark import daemon  # noqa: E402

if __name__ == "__main__":
    daemon.manager()
