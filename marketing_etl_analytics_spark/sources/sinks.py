"""JDBC source and sink.

The reference's sinks are Postgres tables written via pandas ``to_sql``
(replace) and ``INSERT ... SELECT`` (SURVEY.md §2.A A2/A8). The
package's own tables are ``sources.acid`` directories; these two
functions connect a DataFrame to an external SQL database.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC table sink — the engine-native form of the reference's
    pandas ``to_sql(..., if_exists='replace')`` staging load
    (`etl_script/02_load_csv.py:36-38`, SURVEY.md §2.A A2).

    Spark writes partitions in parallel over N connections; pair with
    ``df.repartition(n)`` to bound connection count against the target
    database. Exercised end-to-end against embedded Derby (bundled in
    Spark's jars) in tests/test_jdbc_sink.py; a networked warehouse
    only changes the URL + driver properties.
    """
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})


def read_jdbc(
    spark,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """JDBC table source, with the option that matters at scale:
    a partitioned read. A bare ``spark.read.jdbc`` pulls the whole
    table through ONE connection on one task; passing a numeric
    ``partition_column`` splits it into ``num_partitions`` range
    predicates fetched in parallel — how a warehouse table actually
    gets into a cluster. ``bounds`` (min, max) skips the probe query
    when the caller already knows them."""
    props = properties or {}
    if partition_column is None:
        return spark.read.jdbc(url, table, properties=props)
    if bounds is None:
        # ANSI-quoted identifier: Spark's JDBC writer creates quoted
        # (case-preserved) columns, and unquoted names would fold to
        # the database's default case (Derby/PG: k -> K). Databases
        # with non-ANSI quoting (MySQL backticks) should pass bounds.
        qc = f'"{partition_column}"'
        probe = spark.read.jdbc(
            url,
            f"(SELECT MIN({qc}) AS lo, MAX({qc}) AS hi FROM {table}) probe",
            properties=props,
        ).collect()[0]
        # positional access: unquoted aliases case-fold per database
        if probe[0] is None:
            return spark.read.jdbc(url, table, properties=props)
        bounds = (int(probe[0]), int(probe[1]))
    return spark.read.jdbc(
        url,
        table,
        column=partition_column,
        lowerBound=bounds[0],
        upperBound=bounds[1] + 1,
        numPartitions=num_partitions,
        properties=props,
    )
