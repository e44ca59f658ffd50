"""Plan text for audits: the formatted explain and the final physical
plan of a DataFrame.

The predicates the tests assert over these plans (pushed filters,
forced broadcasts, shuffle counts, whole-stage codegen, global-window
row flow) live in `tests/plan_checks.py`: plan quality is part of
correctness here, and `tests/test_plans.py` fails on a regression that
drops a pushdown, de-broadcasts a dim join, or kicks an operator out of
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def physical_plan(df: DataFrame) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # an executed AQE plan echoes the pre-adaptive plan below the final
    # one — keep only the final section or every operator counts twice
    return plan.split("== Initial Plan ==")[0]
