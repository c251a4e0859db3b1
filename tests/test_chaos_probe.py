"""Pin the chaos probe's executor-JVM discovery and row canonicalizer.

The live kill-an-executor leg (tools/chaos_probe.py) runs as an
evidence probe, not in pytest — a SIGKILL race under the test runner
would flake the suite. What pytest CAN pin deterministically: the
``ps`` parse that picks the victim (a wrong parse kills the driver or
a worker daemon instead of an executor, silently turning the probe
into a different experiment) and the oracle row canonicalization
matching check_oracle's.
"""

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from chaos_probe import parse_executor_pids  # noqa: E402
from check_oracle import sorted_rows  # noqa: E402

PS_SAMPLE = """\
    PID ARGS
      1 /sbin/init
   4242 java -cp /opt/spark org.apache.spark.deploy.master.Master
   4311 java -cp /opt/spark org.apache.spark.deploy.worker.Worker
   4400 java -cp /opt/spark org.apache.spark.executor.CoarseGrainedExecutorBackend --driver-url spark://...
   4401 java -cp /opt/spark org.apache.spark.executor.CoarseGrainedExecutorBackend --driver-url spark://...
   5000 grep CoarseGrainedExecutorBackend
   5100 python tools/chaos_probe.py
"""


def test_only_executor_backends_match():
    # master, worker, the grep itself, and the python driver must NOT
    # be candidate victims — only the two executor JVMs
    assert parse_executor_pids(PS_SAMPLE) == {4400, 4401}


def test_empty_and_headerless_input():
    assert parse_executor_pids("") == set()
    assert parse_executor_pids("PID ARGS\n 1 init\n") == set()


def test_sorted_rows_is_column_order_insensitive():
    a = sorted_rows(["x", "y"], [(1, "a"), (2, "b")])
    b = sorted_rows(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    # None sorts stably AFTER values via the (is-None, type, str) key —
    # same placement as check_oracle's comparator
    c = sorted_rows(["x"], [(None,), (1,)])
    assert c[-1] == (None,)
