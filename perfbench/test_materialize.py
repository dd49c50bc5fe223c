"""The benchmark's timed actions compute every output column.

``count()`` lets Catalyst prune every column the count does not need,
so a benchmark that times it measures almost nothing of the plan. The
benchmark instead loads each catalog result through ``parquet_sink``;
these tests run one pass of each catalog workload on a small fixture
and check that what was loaded holds every output column with the
oracle's rows.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import fixture  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(HERE), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    from skopje_spark.session import get_spark

    s = get_spark("perfbench-test", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    })
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixture")
    fixture.generate(str(d), seed=7, scale=0.1)
    return str(d)


@pytest.mark.parametrize("workload", ["etl_tpch", "llm_curation"])
def test_loaded_outputs_hold_every_column(spark, sf_dir, tmp_path, workload):
    from skopje_spark.queries import load_all
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](spark, sf_dir, str(tmp_path), 7,
                             Tracer(spark, workload, enabled=False))
    wl.prepare()
    wl.run_pass()
    reg = load_all()
    for name in wl.entries:
        want = reg[name].fn(spark, sf_dir).columns
        loaded = spark.read.parquet(os.path.join(wl.out, name))
        assert loaded.columns == want, name
    wl.verify(oracle=True)
    assert wl.failed == 0, wl.errors


def test_count_prunes_what_the_load_computes(spark, sf_dir):
    """The evidence behind the rule: under ``count()`` the optimized q1
    plan keeps only its group keys and computes none of its sums."""
    from skopje_spark.queries import load_all

    df = load_all()["q1_pricing_summary"].fn(spark, sf_dir)
    full = df._jdf.queryExecution().optimizedPlan().toString()
    counted = (df.groupBy().count()._jdf.queryExecution()
               .optimizedPlan().toString())
    assert "sum(" in full
    assert "sum(" not in counted
