"""The benchmark harness's own unit tests (event-log parser, op models,
statistics), collected here so the default ``tests/`` run covers the parser
every perf verdict rests on. No Spark session is needed."""

from perfbench.tests.test_perfbench_eventlog import *  # noqa: F401,F403
from perfbench.tests.test_perfbench_models import *  # noqa: F401,F403
from perfbench.tests.test_perfbench_stats import *  # noqa: F401,F403
