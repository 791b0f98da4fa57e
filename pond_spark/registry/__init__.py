"""The query registry behind ``__spark_entry__``: one module per query
family, each query closure beside its DuckDB twin; ``_common`` holds
what the families share."""
