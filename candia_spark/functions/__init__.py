from candia_spark.functions.numeric import dsum, davg, cv_expr  # noqa: F401
