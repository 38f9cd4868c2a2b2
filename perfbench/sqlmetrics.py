"""Rows that crossed into Python UDFs, read from Spark's SQL metrics.

Spark keeps per-operator metrics of every SQL execution in its status
store even with the UI disabled. The store is not a public API, so this
module is the only place that touches it: if a Spark upgrade changes
it, ``python_udf_rows`` raises instead of reporting zeros.
"""

from __future__ import annotations

import re

# "ArrowEvalPython [forward(subj_type#1, ...)#2], ..." -> "forward"
_UDF_NAME = re.compile(r"\[(\w+)\(")


def python_udf_rows(spark, job_ids: list[int]) -> dict[str, int]:
    """Output rows of each ArrowEvalPython node (one row out per row in)
    in the SQL executions that ran any of ``job_ids``, keyed by the
    Python function's name."""
    jvm = spark._jvm
    convert = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = set(job_ids)
    rows: dict[str, int] = {}
    for execution in convert.asJava(store.executionsList()):
        jobs = {int(j) for j in convert.asJava(execution.jobs()).keySet()}
        if not jobs & wanted:
            continue
        exec_id = execution.executionId()
        values = convert.asJava(store.executionMetrics(exec_id))
        for node in convert.asJava(store.planGraph(exec_id).allNodes()):
            if node.name() != "ArrowEvalPython":
                continue
            match = _UDF_NAME.search(node.desc())
            for metric in convert.asJava(node.metrics()):
                if metric.name() == "number of output rows":
                    text = values.get(metric.accumulatorId())
                    count = int(re.sub(r"\D", "", text)) if text else 0
                    name = match.group(1) if match else "udf"
                    rows[name] = rows.get(name, 0) + count
    return rows
