from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chromem_go_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("chromem-go-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _group_jobs(spark, action) -> list[int]:
    """The Spark jobs ``action()`` runs from the calling thread, found
    through a job group (the thread-local property broadcast jobs
    inherit) once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(action)``: the number of Spark jobs ``action()``
    runs from the calling thread."""
    return lambda action: len(_group_jobs(spark, action))


# RDD operation graph labels of a stage that runs Python workers: a
# NumPy kernel, a Python UDF, or a frame built over a Python RDD
_PYTHON_STAGE_MARKS = (
    'label="MapInArrow"', 'label="MapInPandas"', "EvalPython", "PythonRDD",
)


@pytest.fixture
def python_tasks(spark):
    """``python_tasks(action)``: the tasks run by the Python-worker
    stages of the jobs ``action()`` runs from the calling thread, each
    stage told by its RDD operation graph."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph

    def count(action) -> int:
        n = 0
        for job in _group_jobs(spark, action):
            for sid in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(sid)
                dot = graph.makeDotFile(store.operationGraphForStage(sid))
                if info is not None and any(m in dot for m in _PYTHON_STAGE_MARKS):
                    n += info.numCompletedTasks
        return n

    return count


@pytest.fixture
def open_cost(spark):
    """``open_cost(n)``: set ``spark.sql.files.openCostInBytes`` for one
    test (the unit ``knn.fit_python_stage`` sizes a kernel's input by)."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)
