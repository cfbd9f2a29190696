"""Session start-up: ``get_spark`` builds the session and nothing else."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_runs_no_job():
    """A fresh session has run no Spark job before its first query.
    Runs in a subprocess because the suite's shared session has
    already run jobs."""
    code = (
        "import json\n"
        "from icdar_2019_rrc_sroie_spark.session import get_spark\n"
        "spark = get_spark('startup-probe', master='local[1]')\n"
        "jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(None)\n"
        "print(json.dumps(list(jobs)))\n"
        "spark.stop()\n"
    )
    got = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True)
    assert json.loads(got.stdout.strip().splitlines()[-1]) == []
