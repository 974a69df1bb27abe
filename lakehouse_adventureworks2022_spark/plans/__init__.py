from lakehouse_adventureworks2022_spark.plans.catalog import (  # noqa: F401
    ORACLES,
    QUERIES,
)
