"""Build counters shared by the counter-guard tests: the Spark jobs and
Py4J commands one plan build costs.

Both counters are deterministic for a given code path, so the tests
that pin them are performance regression guards that machine load
cannot flake:

- jobs: ``statusTracker().getJobIdsForGroup`` over a job group set
  around the build;
- Py4J commands: a counting wrapper on the gateway client's
  ``send_command``.  The release command a garbage-collected JavaObject
  proxy sends is not counted: when it is sent is up to Python's
  collector, not to the build.
"""

from __future__ import annotations

import gc

# py4j's memory-release command prefix (JavaObject finalization)
_RELEASE = "m\nd\n"


def count_build(spark, build, group: str) -> tuple[int, int]:
    """(jobs, Py4J commands) of one call of ``build``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    client = sc._gateway._gateway_client
    orig = client.send_command
    calls = [0]

    def counting(command, *a, **kw):
        if not command.startswith(_RELEASE):
            calls[0] += 1
        return orig(command, *a, **kw)

    gc.collect()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = orig
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup("", "")
    return jobs, calls[0]
