"""Session start-up: ``get_spark`` builds the session with the engine's
confs and runs nothing else."""

import functools
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _fresh_session() -> dict:
    """Jobs run and call-site capture setting of a fresh session. Runs
    in a subprocess because the suite's shared session has already run
    jobs."""
    code = (
        "import json\n"
        "from icdar_2019_rrc_sroie_spark.session import get_spark\n"
        "spark = get_spark('startup-probe', master='local[1]')\n"
        "jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(None)\n"
        "debugging = spark.conf.get("
        "'spark.python.sql.dataFrameDebugging.enabled')\n"
        "print(json.dumps({'jobs': list(jobs), 'debugging': debugging}))\n"
        "spark.stop()\n"
    )
    got = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True)
    return json.loads(got.stdout.strip().splitlines()[-1])


def test_get_spark_runs_no_job():
    """A fresh session has run no Spark job before its first query."""
    assert _fresh_session()["jobs"] == []


def test_get_spark_turns_off_call_site_capture():
    """PySpark's per-Column call-site capture is off: it walks the
    Python stack on every Column operator."""
    assert _fresh_session()["debugging"] == "false"
