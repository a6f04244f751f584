from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        app_name="o2o_tests",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        extra_conf={
            # static conf; keep bucketed-table tests out of the repo cwd
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn()`` in a fresh job group and returns
    ``(fn(), jobs)``: the group's jobs from the driver's status store,
    oldest first, each a dict of ``id``, ``name`` (its call site) and
    ``output_bytes`` (bytes its stages wrote to files)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"probe-{uuid.uuid4().hex[:8]}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        listed = store.jobsList(None)
        jobs = []
        for i in range(listed.size()):
            j = listed.apply(i)
            if j.jobGroup().isDefined() and j.jobGroup().get() == group:
                written = 0
                ids = j.stageIds()
                for k in range(ids.size()):
                    try:
                        written += store.lastStageAttempt(ids.apply(k)).outputBytes()
                    except Exception:  # a skipped stage never ran
                        pass
                jobs.append({"id": j.jobId(), "name": j.name(), "output_bytes": written})
        return out, sorted(jobs, key=lambda r: r["id"])

    return run
