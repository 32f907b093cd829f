"""``get_spark`` applies engine defaults only where the launcher left a key
unset; the UTC session zone is the one key it forces over the launcher."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import json
from dice_spark.session import get_spark

spark = get_spark("launcher-probe", master="local[1]")
keys = [
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.codegen.cache.maxEntries",
    "spark.sql.session.timeZone",
    "spark.driver.memory",
]
print(json.dumps({k: spark.conf.get(k) for k in keys}))
spark.stop()
"""


def test_launcher_conf_wins_over_engine_defaults():
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.sql.adaptive.skewJoin.enabled=false"
            " --conf spark.sql.session.timeZone=America/New_York"
            " --conf spark.sql.codegen.cache.maxEntries=512"
            " --driver-memory 1g pyspark-shell"
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "spark.sql.adaptive.enabled": "true",  # unset by the launcher: engine default
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "512",
        "spark.sql.session.timeZone": "UTC",  # forced: oracle parity
        "spark.driver.memory": "1g",
    }
