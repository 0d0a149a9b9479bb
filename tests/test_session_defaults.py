"""``get_session`` creation-time defaults: local cores and PySpark's
per-call call-site capture."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CAPTURE = "spark.python.sql.dataFrameDebugging.enabled"


def test_call_site_capture_off_by_default(spark):
    assert spark.conf.get(CAPTURE) == "false"


def test_default_master_follows_cpu_affinity_and_extra_conf_wins():
    # a fresh process: the test session already fixed this one's master
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_DRIVER_MEM"] = "1g"
    code = (
        "from faconne_spark.session import get_session\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        f"s = get_session('cpu_probe', extra_conf={{'{CAPTURE}': 'true'}})\n"
        "print(s.sparkContext.master, is_debugging_enabled())\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    master, capture = out.stdout.split()[-2:]
    assert master == f"local[{len(os.sched_getaffinity(0))}]"
    assert capture == "True"
