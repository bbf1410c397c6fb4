"""get_spark defaults."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_default_shuffle_partitions_follow_parallelism():
    """With no ``shuffle_partitions``, a local[2] session shuffles into 2
    partitions (its default parallelism), not a fixed count.  Runs in a
    child process: the suite's own session is local[4]."""
    code = (
        "from diive_spark.session import get_spark\n"
        "s = get_spark(master='local[2]', app_name='session-default-test')\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "2"
