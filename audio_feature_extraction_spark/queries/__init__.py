"""Query/oracle registry package: one module per operator family.

Each family module declares its queries as ``QUERIES = {name: (builder,
oracle_sql_text)}``; __spark_entry__.py merges them in its ``ORDER`` list
(order is part of the driver contract)."""
