"""Product benchmark of record for morphik_core_spark (see README.md)."""
