"""``tools/plan_census.py`` node counting on literal plan text (no Spark
session)."""

from tools.plan_census import census


def test_python_udtf_nodes_are_counted():
    plan = "\n".join([
        "+- BatchEvalPython [udf(x)#1], [pythonUDF0#2]",
        "+- BatchEvalPythonUDTF [split(text#3)], [sentence#4]",
        "+- ArrowEvalPythonUDTF [tokens(text#5)], [token#6]",
    ])
    c = census(plan)
    assert c["batch_eval_python"] == 2
    assert c["arrow_eval_python"] == 1
