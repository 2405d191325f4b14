"""Oracle-checked benchmark harness for the lucene_spark engine (see README.md)."""
