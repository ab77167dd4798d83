"""PySpark worker daemon for the traced run
(``spark.python.daemon.module=perfbench.worker_daemon``): installs the
worker span hooks, then runs the stock ``pyspark.daemon``, whose forked
workers inherit the hooked modules."""

from pyspark import daemon

from perfbench import trace

if __name__ == "__main__":
    trace.install_worker_hooks()
    daemon.manager()
