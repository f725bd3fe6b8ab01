"""The repository benchmark: seeded ingest workloads driven through the
public entry points of ``singer_spark``.  ``python3 perfbench/run.py`` is
the command; see ``perfbench/README.md`` for what it measures."""
