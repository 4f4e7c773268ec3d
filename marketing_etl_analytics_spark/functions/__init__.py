"""Scalar column builders shared across ETL, views, queries and the
suite's ETL entries (the only date-key and channel-parse code)."""

from marketing_etl_analytics_spark.functions.dates import (  # noqa: F401
    date_parts,
    epoch_date_id,
    parse_mdy,
)
from marketing_etl_analytics_spark.functions.kpis import safe_div  # noqa: F401
from marketing_etl_analytics_spark.functions.text import (  # noqa: F401
    channel_from_campaign,
)
from marketing_etl_analytics_spark.functions.bands import (  # noqa: F401
    age_band,
    frequency_band,
)
