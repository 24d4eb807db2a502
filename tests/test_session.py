"""get_spark defaults: PySpark's DataFrame call-site capture is off.

With it on, the first ``pyspark.sql.functions`` call imports IPython
(+26.6 MB driver RSS) and every Column call pays extra py4j round trips.
"""

import importlib.util
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"

# Builds Column expressions in a fresh get_spark driver and prints whether
# IPython got imported; argv[1] is passed through extra_conf when given.
_PROBE = textwrap.dedent(f"""
    import sys
    from mithril_spark.session import get_spark
    from pyspark.sql import functions as F

    extra = {{{DEBUG_CONF!r}: sys.argv[1]}} if len(sys.argv) > 1 else None
    spark = get_spark(cores=1, app_name="session-probe", extra_conf=extra)
    try:
        exprs = [F.col("id") + F.lit(i) for i in range(20)]
        spark.range(3).select(*exprs).collect()
        print("IPYTHON", "IPython" in sys.modules)
    finally:
        spark.stop()
""")


def _probe(*args) -> bool:
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *args], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(ln for ln in out.stdout.splitlines()
                if ln.startswith("IPYTHON "))
    return line.split()[1] == "True"


def test_get_spark_disables_dataframe_debugging(spark):
    assert spark.conf.get(DEBUG_CONF) == "false"


def test_column_calls_do_not_import_ipython():
    assert not _probe(), "a get_spark driver imported IPython"
    if importlib.util.find_spec("IPython") is not None:
        # the probe can see the import: turning the conf back on brings it in
        assert _probe("true"), "debugging on, yet no IPython import observed"
