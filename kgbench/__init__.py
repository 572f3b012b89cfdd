"""Benchmark of the hbase_rdf_spark engine; see README.md here."""
