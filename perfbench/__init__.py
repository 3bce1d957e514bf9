"""EL benchmark of the sling_cli_spark engine (see README.md)."""
