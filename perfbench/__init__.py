"""Import/export/query benchmark for the engine; see README.md."""
