import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")


@pytest.fixture(scope="session")
def spark():
    from geowave_spark.session import get_spark

    s = get_spark("geowave_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def band_exchange_outputs():
    """``f(df)`` runs ``df`` and returns, for every exchange that feeds a
    band self-join (its output carries the ``bkey`` column), the list of
    ``(column name, type)`` it ships."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def outputs(df):
        df.collect()
        out, todo = [], [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            name = node.nodeName()
            if name.startswith("AdaptiveSparkPlan"):
                todo.append(node.executedPlan())
                continue
            todo.extend([node.plan()] if "QueryStage" in name else seq(node.children()))
            if name.endswith("Exchange"):
                cols = [(a.name(), a.dataType().simpleString()) for a in seq(node.output())]
                if any(n == "bkey" for n, _ in cols):
                    out.append(cols)
        return out

    return outputs
