from commodity_price_forecasting_spark.sources.readers import (  # noqa: F401
    TABLES,
    load_table,
    register_views,
)
